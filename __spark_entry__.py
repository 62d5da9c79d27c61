"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship quality-filter pipeline on
sf0.001; ``queries()`` exposes each implemented operator from SURVEY.md §2
as (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the DuckDB twin the
driver compares against at sf0.01.

Column names are aligned between both sides; floating outputs that involve
multi-term summation are rounded identically on both sides to absorb
summation-order ulps (single divisions/compares of identical inputs are
bit-exact and left unrounded).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
ARPA_PATH = os.path.join(REPO, "tests", "fixtures", "test.arpa")

_MODEL = None
_MTABLES = None


def _model_tables(spark):
    """Memoized distributed model tables + Bloom for the join-scorer
    queries — the model-ship analogue of the _model() memo (the
    reference's throughput metric excludes model load likewise)."""
    global _MTABLES
    if _MTABLES is None or _MTABLES[0] is not spark:
        from kenlm_spark.ngram.join_scorer import (
            key_bloom_from_model,
            model_table,
            vocab_table,
        )

        m = _model()
        _MTABLES = (
            spark,
            model_table(spark, m).localCheckpoint(eager=True),
            vocab_table(spark, m).localCheckpoint(eager=True),
            key_bloom_from_model(m),
        )
    return _MTABLES[1], _MTABLES[2], _MTABLES[3]


def _model():
    global _MODEL
    if _MODEL is None:
        from kenlm_spark.ngram.arpa import load_arpa

        _MODEL = load_arpa(ARPA_PATH)
    return _MODEL


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kenlm_spark.session import ensure_min_partitions

    return ensure_min_partitions(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: estimate a KN model from the corpus itself (lmplz path)
    and run the full quality-filter pipeline on it COLLECT-FREE — the
    estimated model goes straight to distributed (n, key, prob, backoff) +
    vocab tables (estimator.export_model_tables) and captions are scored
    by equi-join (ngram.join_scorer), so no model state ever materializes
    on the driver or in a broadcast. This is the same plan that runs at
    100 TB; to_ngram_model (collect + broadcast) remains the fast path
    for models that fit (q_keep_drop / q_score_captions)."""
    from kenlm_spark.estimator import estimate, export_model_tables
    from kenlm_spark.pipeline import FilterConfig, QualityFilterPipeline

    docs = _docs(spark, "/root/testdata/sf0.001")
    model_df, _ = estimate(docs, "text", order=3)
    tall, vocab = export_model_tables(
        model_df.localCheckpoint(eager=True), 3
    )
    images = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(8).alias("w"),
        F.lit(8).alias("h"),
        F.lit("raw").alias("fmt"),
        F.col("text").alias("caption"),
        F.col("doc_id").alias("phash"),
    )
    pipe = QualityFilterPipeline.from_model_tables(
        spark, tall, vocab, 3, FilterConfig()
    )
    return pipe.run(images).select(
        "image_id",
        "caption",
        "lang_pred",
        "lm_log10_prob",
        "lm_perplexity",
        "lm_oov_count",
        "quality_pass",
        "scrubbed_caption",
        "keep",
        "drop_reason",
    )


# --------------------------------------------------------------------------
# queries — Spark side
# --------------------------------------------------------------------------

def q_score_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A8/W2: full KenLM-semantics sentence scoring (broadcast model +
    vectorized pandas UDF) — log10 prob, log10 perplexity, OOV, tokens."""
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    scorer = SparkNGramScorer(spark, _model())
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.round(
            -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
        ).alias("log10_ppl"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_captions_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 ingestion: identical scoring, but the model is loaded from the
    reference's own ``build_binary`` output (tests/fixtures/test_probing.klm,
    probing layout, lm/binary_format.cc:20-133) instead of the ARPA —
    must hash-match q_score_captions' oracle exactly."""
    from kenlm_spark.ngram.binary import load_binary
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    model = load_binary(os.path.join(REPO, "tests", "fixtures", "test_probing.klm"))
    scorer = SparkNGramScorer(spark, model)
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.round(
            -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
        ).alias("log10_ppl"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_captions_trie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/J2 ingestion: scoring from the reference's quantized+Bhiksha
    TRIE binary (tests/fixtures/test_trie_quant_array.klm, the most
    compressed layout) — the trie reader decodes bit-packed arrays into
    the same NGramModel, so this must hash-match q_score_captions' oracle
    (test.arpa's value sets make 8-bit quantization lossless)."""
    from kenlm_spark.ngram.binary import load_binary
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    model = load_binary(
        os.path.join(REPO, "tests", "fixtures", "test_trie_quant_array.klm")
    )
    scorer = SparkNGramScorer(spark, model)
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.round(
            -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
        ).alias("log10_ppl"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_captions_trie_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 write side (r4): score from a trie binary WRITTEN BY OUR OWN
    trie writer (quantized + Bhiksha, the most compressed layout) — the
    full write→read round trip inside the query surface. The writer is
    byte-identical to build_binary (tests/test_trie_writer.py), so this
    must hash-match q_score_captions' oracle exactly like
    q_score_captions_trie does."""
    import tempfile

    from kenlm_spark.ngram.binary import load_binary
    from kenlm_spark.ngram.scorer import SparkNGramScorer
    from kenlm_spark.ngram.trie_writer import write_trie

    out = os.path.join(tempfile.gettempdir(), "q_trie_rt.klm")
    if not os.path.exists(out):
        write_trie(ARPA_PATH, out, quant_bits=8, backoff_bits=8,
                   array_bits=22)
    scorer = SparkNGramScorer(spark, load_binary(out))
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.round(
            -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
        ).alias("log10_ppl"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11.6: stupid-backoff fallback scorer (fixed log10(0.4) penalty
    per skipped context order instead of learned backoffs)."""
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    scorer = SparkNGramScorer(spark, _model(), stupid_backoff=True)
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_captions_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based scoring (no model broadcast): model as a tall
    (n, key, prob, backoff) DataFrame, candidates equi-joined per order —
    the fallback when the estimated model outgrows the driver/broadcast
    ceiling. Must hash-match q_score_captions' oracle exactly."""
    from kenlm_spark.ngram.join_scorer import score_with_join

    m = _model()
    mdf, vdf, bloom = _model_tables(spark)
    scored = score_with_join(
        _docs(spark, sf_dir),
        "text",
        mdf,
        vdf,
        m.order,
        m.bos_id,
        m.eos_id,
        key_bloom=bloom,
    )
    return scored.select(
        "doc_id",
        F.round(F.col("log10_prob"), 3).alias("log10_prob"),
        F.round(
            -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
        ).alias("log10_ppl"),
        F.col("oov_count"),
        F.col("n_tokens"),
    )


def q_score_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChartState/RuleScore (lm/left.hh): each caption is split in half,
    both halves scored as independent fragments (unknown left context),
    then composed with non_terminal + begin_sentence — the chart-decoder
    primitive. Composition must telescope to the sequential score, so the
    oracle is the same DuckDB scoring query as q_score_captions."""
    import pandas as pd

    from kenlm_spark.functions.text import PY_TOKEN_RE

    bc = spark.sparkContext.broadcast(_model())

    def run(batches):
        from kenlm_spark.ngram.left import ChartState, RuleScore

        model = bc.value
        eos = model.eos_id
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"].fillna("")):
                ids = [
                    model.word_id(t) for t in PY_TOKEN_RE.split(text) if t
                ]
                mid = len(ids) // 2

                def fragment(words):
                    st = ChartState()
                    sc = RuleScore(model, st)
                    for w in words:
                        sc.terminal(w)
                    return st, sc.finish()

                s1, p1 = fragment(ids[:mid])
                s2, p2 = fragment(ids[mid:] + [eos])
                top = ChartState()
                sc = RuleScore(model, top)
                sc.begin_sentence()
                sc.non_terminal(s1, p1)
                sc.non_terminal(s2, p2)
                out.append((doc_id, round(sc.finish(), 3)))
            yield pd.DataFrame(out, columns=["doc_id", "log10_prob"])

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(run, "doc_id long, log10_prob double")
    )


def q_corpus_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: corpus-level perplexity rollup incl./excl. OOV — the reference's
    query binary summary (lm/ngram_query.hh:96-99)."""
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    scorer = SparkNGramScorer(spark, _model())
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.agg(
        F.round(F.sum("log10_prob"), 2).alias("sum_log10_prob"),
        F.sum(F.col("n_tokens") + 1).cast("long").alias("n_scored"),
        F.sum("oov_count").cast("long").alias("n_oov"),
        F.round(
            -F.sum("log10_prob") / F.sum(F.col("n_tokens") + 1), 6
        ).alias("log10_ppl_incl_oov"),
        F.round(
            -F.sum("log10_prob") / (F.sum(F.col("n_tokens") + 1) - F.sum("oov_count")),
            6,
        ).alias("log10_ppl_excl_oov"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9(langid): Catalyst stopword-profile language identification."""
    from kenlm_spark.filtering.langid import lang_expr

    return _docs(spark, sf_dir).select(
        "doc_id", lang_expr("text").alias("lang_pred")
    )


def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: regex PII/toxicity scrub chain (Catalyst regexp_replace)."""
    from kenlm_spark.filtering.scrub import scrub_expr

    return _docs(spark, sf_dir).select(
        "doc_id", scrub_expr("text").alias("scrubbed")
    )


def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: caption-quality metric columns (all Catalyst expressions)."""
    from kenlm_spark.filtering.quality import quality_metric_exprs

    m = quality_metric_exprs("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        m["n_chars"].cast("long").alias("n_chars"),
        m["n_tokens"].cast("long").alias("n_tokens"),
        m["mean_token_len"].alias("mean_token_len"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["digit_ratio"].alias("digit_ratio"),
        m["upper_ratio"].alias("upper_ratio"),
        m["has_long_token"].alias("has_long_token"),
        m["distinct_ratio"].alias("distinct_ratio"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: boolean keep/drop by heuristic quality rules."""
    from kenlm_spark.filtering.quality import quality_metric_exprs, quality_pass_expr

    m = quality_metric_exprs("text")
    return _docs(spark, sf_dir).select(
        "doc_id", quality_pass_expr(m).alias("quality_pass")
    )


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (r4): duplicate-line ratio, top
    word / top bigram frequency fractions — the repetition-removal
    family of quality filtering, per document.  r8: computed by the
    Arrow-pass twin (one Counter per row, same exact integers/divisions
    as the Catalyst exprs — parity-pinned in tests) instead of the
    interpreted per-metric aggregate folds (~3× faster at sf1.0)."""
    from kenlm_spark.filtering.quality import repetition_metrics_frame

    m = repetition_metrics_frame(_docs(spark, sf_dir), "doc_id", "text")
    return m.select(
        F.col("id").alias("doc_id"),
        F.round("dup_line_ratio", 6).alias("dup_line_ratio"),
        F.round("top_word_ratio", 6).alias("top_word_ratio"),
        F.round("top_bigram_ratio", 6).alias("top_bigram_ratio"),
    )


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain blocklist filter (r4): extract URLs + registrable
    hosts, drop documents whose domain set hits a (broadcast) blocklist.
    The test corpus carries no URLs, so each doc gets a deterministic
    doc_id-derived URL appended — identical on both engines — making the
    extract → explode → blocklist-join path non-degenerate."""
    from kenlm_spark.filtering.urls import domain_blocklist_filter

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.lit(" visit http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/page now"),
        ).alias("text"),
    )
    blocklist = spark.createDataFrame(
        [("site2.example.com",), ("site5.example.com",)], "domain string"
    )
    return domain_blocklist_filter(docs, blocklist)


def q_ppl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain perplexity evaluation (r6; the Paloma eval shape,
    Magnusson et al. 2023): the A8 corpus-ppl rollup grouped by the
    documents' source domain — the per-slice view a curation team reads
    to spot domains the LM models badly. Same scorer crossing as
    q_corpus_ppl, one extra groupBy on a low-cardinality key (partial
    aggregation absorbs it map-side; no skew exposure)."""
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    scorer = SparkNGramScorer(spark, _model())
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_tokens") + 1).cast("long").alias("n_scored"),
        F.sum("oov_count").cast("long").alias("n_oov"),
        F.round(
            -F.sum("log10_prob") / F.sum(F.col("n_tokens") + 1), 6
        ).alias("log10_ppl_incl_oov"),
        F.round(
            -F.sum("log10_prob")
            / (F.sum(F.col("n_tokens") + 1) - F.sum("oov_count")),
            6,
        ).alias("log10_ppl_excl_oov"),
    )


def q_keep_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North rule end-to-end: langid + perplexity + heuristics + scrub →
    keep/drop + drop_reason + scrubbed text, per document."""
    return _keep_drop_frame(spark, _docs(spark, sf_dir))


def _keep_drop_frame(
    spark: SparkSession, docs: DataFrame, keep_cols: tuple = ()
) -> DataFrame:
    """The north-rule decision columns over any (doc_id, text) frame —
    batch or streaming (every stage is map-only).  ``keep_cols`` passes
    input columns through (r8): a caller that needs e.g. ``text`` next
    to the decisions gets it from the SAME map-only pass instead of a
    corpus self-join back to the scan (q_filter_metrics measured 3.3s
    -> the bare scoring cost)."""
    from kenlm_spark.filtering.langid import lang_expr
    from kenlm_spark.filtering.quality import quality_metric_exprs, quality_pass_expr
    from kenlm_spark.filtering.scrub import scrub_expr
    from kenlm_spark.ngram.scorer import SparkNGramScorer

    scorer = SparkNGramScorer(spark, _model())
    df = scorer.with_scores(docs, "text", prefix="lm_")
    m = quality_metric_exprs("text")
    df = (
        df.withColumn("lang_pred", lang_expr("text"))
        .withColumn("quality_pass", quality_pass_expr(m))
        .withColumn("scrubbed", scrub_expr("text"))
    )
    avg_logp = -F.col("lm_log10_prob") / (F.col("lm_n_tokens") + F.lit(1))
    oov_ratio = F.col("lm_oov_count").cast("double") / F.greatest(
        F.col("lm_n_tokens"), F.lit(1)
    )
    reason = (
        F.when(~F.col("quality_pass"), F.lit("quality"))
        .when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(oov_ratio > 0.5, F.lit("oov"))
        .when(avg_logp > 5.0, F.lit("perplexity"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.select(
        "doc_id",
        "lang_pred",
        "quality_pass",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
        F.col("scrubbed"),
        *keep_cols,
    )


def q_keep_drop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North rule as a Structured Streaming job: the identical map-only
    decision pipeline (langid + perplexity scorer + heuristics + scrub)
    over a streaming file source, drained with availableNow into a
    memory sink — must hash-match q_keep_drop's oracle. This is the
    shape a continuously-ingesting image+caption pipeline runs in
    production (readStream from the table, same plan, checkpointed
    sink)."""
    import uuid

    from kenlm_spark.streaming.jobs import run_available_now

    src = _stream_src(sf_dir, "documents")
    schema = spark.read.parquet(src).schema
    docs = _spread_stream(
        spark.readStream.schema(schema).parquet(src).select(
            "doc_id", "text"
        )
    )
    out = _keep_drop_frame(spark, docs)
    name = f"keep_drop_stream_{uuid.uuid4().hex[:8]}"
    run_available_now(out, name, collect_rows=False)
    return spark.sql(f"SELECT * FROM {name}")


def q_keep_drop_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North rule end-to-end with the DISTRIBUTED model (no broadcast):
    identical decisions to q_keep_drop, but perplexity comes from the
    join scorer over the tall (n, key, prob, backoff) model table — the
    plan that survives models too large to broadcast. Hash-matches
    q_keep_drop's oracle."""
    from kenlm_spark.filtering.langid import lang_expr
    from kenlm_spark.filtering.quality import quality_metric_exprs, quality_pass_expr
    from kenlm_spark.filtering.scrub import scrub_expr
    from kenlm_spark.ngram.join_scorer import score_with_join

    m = _model()
    docs = _docs(spark, sf_dir)
    mdf, vdf, bloom = _model_tables(spark)
    scored = score_with_join(
        docs, "text", mdf, vdf,
        m.order, m.bos_id, m.eos_id, key_bloom=bloom,
    ).select(
        "doc_id",
        F.col("log10_prob").alias("lm_log10_prob"),
        F.col("oov_count").alias("lm_oov_count"),
        F.col("n_tokens").alias("lm_n_tokens"),
    )
    df = docs.join(scored, "doc_id")
    mx = quality_metric_exprs("text")
    df = (
        df.withColumn("lang_pred", lang_expr("text"))
        .withColumn("quality_pass", quality_pass_expr(mx))
        .withColumn("scrubbed", scrub_expr("text"))
    )
    avg_logp = -F.col("lm_log10_prob") / (F.col("lm_n_tokens") + F.lit(1))
    oov_ratio = F.col("lm_oov_count").cast("double") / F.greatest(
        F.col("lm_n_tokens"), F.lit(1)
    )
    reason = (
        F.when(~F.col("quality_pass"), F.lit("quality"))
        .when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(oov_ratio > 0.5, F.lit("oov"))
        .when(avg_logp > 5.0, F.lit("perplexity"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.select(
        "doc_id",
        "lang_pred",
        "quality_pass",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
        F.col("scrubbed"),
    )


def q_filter_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule monitoring rollup, oracle-checked (r6): keep/drop/scrub
    counts per (lang_pred, drop_reason) over the full decision pipeline.
    These are the same aggregates the zero-extra-scan Observation path
    emits in production (pipeline.run_observed / streaming
    observe_filter_metrics — pinned equal in tests/test_pipeline.py);
    this relational twin makes the metric VALUES engine-checkable."""
    docs = _docs(spark, sf_dir)
    # text rides the decision pass itself (keep_cols) — the r6 shape
    # joined the corpus back to itself just to recover the text column
    # for the n_scrubbed comparison (one extra scan + two exchanges)
    joined = _keep_drop_frame(spark, docs, keep_cols=("text",))
    return joined.groupBy(
        "lang_pred",
        F.coalesce("drop_reason", F.lit("none")).alias("drop_reason"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum(
            (F.col("scrubbed") != F.coalesce(F.col("text"), F.lit("")))
            .cast("long")
        ).alias("n_scrubbed"),
    )


def q_ngram_count_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W1: padded bigram counting (explode + partial-agg groupBy)."""
    from kenlm_spark.operators.ngrams import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), "text", n=2, pad=True)


def q_ngram_count_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W1 at order 3."""
    from kenlm_spark.operators.ngrams import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), "text", n=3, pad=True)


def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/A10: vocabulary with term frequencies."""
    from kenlm_spark.operators.ngrams import word_counts

    return word_counts(_docs(spark, sf_dir), "text")


def q_lm_windows_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W1 (estimation side): order-3 window counting with BOS padding."""
    from kenlm_spark.estimator import count_windows

    w = count_windows(_docs(spark, sf_dir), "text", 3)
    return w.select(
        F.concat_ws(" ", "words").alias("gram"), F.col("count").alias("cnt")
    )


def _adjusted(spark: SparkSession, sf_dir: str, level: int) -> DataFrame:
    from kenlm_spark.estimator import adjusted_counts, count_windows

    w = count_windows(_docs(spark, sf_dir), "text", 3)
    grams = adjusted_counts(w, 3)
    return grams[level].select(
        F.concat_ws(" ", "words").alias("gram"), F.col("count").alias("cnt")
    )


def q_lm_adjusted_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: Kneser-Ney continuation counts at order 2 (BOS exception incl.)."""
    return _adjusted(spark, sf_dir, 2)


def q_lm_adjusted_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A10: adjusted unigram counts with forced <unk>/<s> zerotons."""
    return _adjusted(spark, sf_dir, 1)


def q_lm_model_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A7/J6/J7: full lmplz-equivalent estimation (discounts, gammas,
    interpolation, backoffs) as a model table."""
    from kenlm_spark.estimator import estimate

    model, _ = estimate(_docs(spark, sf_dir), "text", order=3)
    return model.select(
        F.col("order").alias("ord"),
        F.concat_ws(" ", "words").alias("gram"),
        F.round("log10_prob", 6).alias("log10_prob"),
        F.round("log10_backoff", 6).alias("log10_backoff"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (exact): hash-groupBy duplicate groups with canonical survivor."""
    from kenlm_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (passage-granular, r5): Lee-et-al-style substring dedup at
    fixed 10-token passages — first global occurrence survives, docs
    reassembled from surviving passages."""
    from kenlm_spark.operators.dedup import passage_dedup

    return passage_dedup(_docs(spark, sf_dir), window=10)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination flagging (r5): distinct 5-gram overlap of
    every corpus doc against a deterministic held-out "benchmark" slice
    (doc_id % 97 == 0) — the GPT-3/Pile decontamination rule as one
    explode + hash equi-join + groupBy."""
    from pyspark.sql import functions as F

    from kenlm_spark.operators.dedup import contamination_check

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, bench, shingle_k=5)


def _stream_src(sf_dir: str, name: str) -> str:
    """Streaming file sources need a DIRECTORY; the testdata tables are
    single files. Stage a per-sf copy once under /tmp and reuse it."""
    import hashlib
    import shutil

    d = f"/tmp/kenlm_spark_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{name}"
    if not os.path.isdir(d):
        os.makedirs(d, exist_ok=True)
        shutil.copy(f"{sf_dir}/{name}.parquet", d)
    return d


def _spread_stream(stream: DataFrame) -> DataFrame:
    """Round-robin-repartition a streaming source to the session's
    default parallelism (r8, guide §2.6): the toy file source is ONE
    small parquet file, so every micro-batch otherwise runs its whole
    map side (shingle hashing, LM scoring, state updates feed) as a
    single task — measured 7-30x under-parallelism at sf1.0.  The
    shuffled payload is the raw input rows (KBs here); a production
    Kafka/Iceberg source has real source parallelism and a caller there
    would drop this.  Streaming twin of ensure_min_partitions (which
    cannot probe .rdd on a streaming frame)."""
    return stream.repartition(
        stream.sparkSession.sparkContext.defaultParallelism
    )


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL Structured Streaming: exact dedup via dropDuplicates on
    the content hash, drained with availableNow into a memory sink. The
    surviving row per hash is arrival-order-dependent, so the query
    returns the DISTINCT HASH SET (deterministic) — the DuckDB twin is a
    batch DISTINCT over the same 60-bit hash."""
    import uuid

    from kenlm_spark.streaming.jobs import dedup_stream, run_available_now

    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    stream = dedup_stream(
        spark, _stream_src(sf_dir, "documents"),
        text_col="text", id_col="doc_id",
    )
    run_available_now(stream, name, collect_rows=False)
    return spark.sql(f"SELECT DISTINCT text_hash FROM {name}")


def q_events_user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL Structured Streaming via applyInPandasWithState: running
    per-user (count, sum) across micro-batches. The memory sink holds one
    update row per (user, micro-batch); the final state per user is the
    row with the largest running count — which must equal the batch
    groupBy (the DuckDB twin)."""
    import uuid

    from pyspark.sql import Window

    from kenlm_spark.streaming.jobs import (
        run_available_now,
        running_user_stats_stream,
    )

    name = f"user_stats_stream_{uuid.uuid4().hex[:8]}"
    stream = running_user_stats_stream(
        spark, _stream_src(sf_dir, "events"), round_digits=3
    )
    run_available_now(stream, name, output_mode="update", collect_rows=False)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (exact n-gram Jaccard): the O(n²) ground truth the MinHash
    path's verify step implements — run on a deterministic 1000-doc
    slice (all-pairs is the tiny-N / per-bucket tool; minhash_lsh_pairs
    is the corpus-scale path)."""
    from kenlm_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark, sf_dir).orderBy("doc_id").limit(1000)
    return jaccard_pairs(docs, jaccard_threshold=0.5)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (near, MinHash+LSH): shingle→minhash→band→bucket-join→verify."""
    from kenlm_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.5)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (r4): per-language keep
    fractions decided by a pure hash of the doc id — stable across
    runs, partitionings, and engines (unlike DataFrame.sample's
    per-partition RNG), which is what makes a 100-TB sampling job
    reproducible and resumable. Downsamples English, keeps the rest."""
    from kenlm_spark.filtering.langid import lang_expr
    from kenlm_spark.operators.dedup import stratified_sample

    docs = _docs(spark, sf_dir).withColumn("lang", lang_expr("text"))
    # pushdown_barrier (r8): keeps the hash filter ABOVE the lang
    # projection — otherwise the optimizer inlines the 8-regexp
    # lang_expr into the pushed predicate and runs it, CSE-free, on the
    # single-split scan task (16.9s -> 2.0s at sf1.0; see operator doc)
    out = stratified_sample(
        docs, "lang", {"en": 0.3, "und": 1.0}, default_fraction=0.8,
        pushdown_barrier=True,
    )
    return out.select("doc_id", "lang")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup transitive closure (r4): connected components over the
    MinHash near-dup pair graph — (id, comp) with comp = min reachable
    doc id. Pairs alone don't dedup a corpus (near-dup isn't
    transitive); this is the canonical-survivor step every training-data
    pipeline needs. Per-partition union-find rounds (usually one),
    checkpointed per round; oracle = DuckDB recursive CTE closure."""
    from kenlm_spark.operators.dedup import dedup_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.5)
    return dedup_components(pairs)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup end-to-end decision (r4): every document keeps True except
    non-canonical members of near-dup clusters (canonical = min doc id
    via connected components over the MinHash pair graph)."""
    from kenlm_spark.operators.dedup import (
        dedup_canonical_drop,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    return dedup_canonical_drop(docs, pairs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (near, SimHash): bit-majority fingerprint per document."""
    from kenlm_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (near, SimHash): Hamming<=3 pairs, exact recall via 4
    15-bit bands (pigeonhole) over the 60-bit fingerprint."""
    from kenlm_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir))


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: exact cosine top-10 for 8 query vectors."""
    from kenlm_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_ids=list(range(8)), k=10)


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: sign-LSH bucketed candidates (numpy mapInPandas),
    exact re-rank. Deterministic md5 hyperplanes → full DuckDB oracle;
    the test suite additionally checks recall against the exact top-k."""
    from kenlm_spark.operators.similarity import lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(emb, query_ids=list(range(8)), k=10)


def _ngrams_df(spark: SparkSession) -> DataFrame:
    """The golden ARPA model as an ngrams(order, words) DataFrame."""
    from kenlm_spark.oracle import arpa_ngram_rows

    rows = [(n, g.split(" ")) for n, g, _, _ in arpa_ngram_rows(ARPA_PATH)]
    return spark.createDataFrame(rows, "order int, words array<string>")


def q_filter_vocab_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: model filter, Single mode — every non-tag word in the corpus
    vocabulary (tags <...> always pass)."""
    from kenlm_spark.operators.model_filter import filter_single

    vocab = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .distinct()
    )
    out = filter_single(_ngrams_df(spark), vocab)
    return out.select(F.col("order").alias("ord"), F.concat_ws(" ", "words").alias("gram"))


def q_filter_vocab_multiple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: model filter, Multiple mode — fan out each n-gram to every
    sentence whose vocabulary covers it."""
    from kenlm_spark.operators.model_filter import filter_multiple, sentence_postings

    postings = sentence_postings(_docs(spark, sf_dir))
    out = filter_multiple(_ngrams_df(spark), postings)
    return out.select(
        F.col("order").alias("ord"),
        F.concat_ws(" ", "words").alias("gram"),
        F.col("sent_id"),
    )


def q_filter_vocab_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: model filter, Union mode — kept iff some sentence covers it."""
    from kenlm_spark.operators.model_filter import filter_union, sentence_postings

    postings = sentence_postings(_docs(spark, sf_dir))
    out = filter_union(_ngrams_df(spark), postings)
    return out.select(F.col("order").alias("ord"), F.concat_ws(" ", "words").alias("gram"))


PHRASES = [
    ["looking", "on"],
    ["on", "a", "little"],
    ["the"],
    ["would", "consider", "higher"],
    ["a"],
    ["<s>", "looking"],
    ["</s>"],
]


def q_filter_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: phrase filter — keep model n-grams coverable by whitelisted
    phrases (partial phrase suffix at the left edge, whole phrases in the
    middle, partial prefix at the right edge; lm/filter/phrase.hh). The
    oracle is an INDEPENDENT recursive-CTE coverage DP in DuckDB."""
    from kenlm_spark.operators.phrase_filter import phrase_filter

    out = phrase_filter(_ngrams_df(spark), PHRASES)
    return out.select(
        F.col("order").alias("ord"), F.concat_ws(" ", "words").alias("gram")
    )


def q_filter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm/filter count-file mode (lm/filter/count_io.hh): the filter
    operators work on COUNT tables, not just models — here the corpus's
    order-2 window counts filtered to the golden model's vocabulary
    (Single mode; tags <s>/</s> always pass)."""
    from kenlm_spark.estimator import count_windows
    from kenlm_spark.operators.model_filter import filter_single

    from kenlm_spark.operators.ngrams import word_counts

    docs = _docs(spark, sf_dir)
    w = count_windows(docs, "text", 2)
    counts = w.select(F.lit(2).alias("order"), "words", "count")
    vocab = (
        word_counts(docs, "text").filter(F.col("cnt") >= 20).select("word")
    )
    out = filter_single(counts, vocab)
    return out.select(
        F.concat_ws(" ", "words").alias("gram"), F.col("count").alias("cnt")
    )


def q_interpolate_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/U2: static interpolation of two models (0.6*test + 0.4*test_nounk)
    with backoff renormalization."""
    from kenlm_spark.operators.interpolate_models import interpolate_models
    from kenlm_spark.oracle import arpa_ngram_rows

    import numpy as np

    def as_df(path):
        # float32-widen to match the oracle's inlined ARPA literals
        rows = [
            (n, g.split(" "), float(np.float32(p)), float(np.float32(b)))
            for n, g, p, b in arpa_ngram_rows(path)
        ]
        return spark.createDataFrame(
            rows,
            "order int, words array<string>, log10_prob double, log10_backoff double",
        )

    nounk = os.path.join(REPO, "tests", "fixtures", "test_nounk.arpa")
    return interpolate_models(
        [as_df(ARPA_PATH), as_df(nounk)], [0.6, 0.4], order=5
    )


# Held-out tuning text for q_interpolate_tuned: fixed (not sf-dependent)
# so the DuckDB oracle can recompute identical weights.
TUNE_HELDOUT = [
    "the query joins the table rows",
    "executors run the shuffle quickly",
    "the fox runs over the table",
    "the plan scans partitions of the table",
]
_TUNED_W: list[float] | None = None


def _tuned_weights() -> list[float]:
    """Newton-tuned log-linear weights on the held-out text, normalized to
    sum 1 for the linear merge (lm/interpolate/tune_weights.cc ported in
    kenlm_spark/ngram/tune.py). Pure numpy + fixtures → deterministic, so
    the oracle SQL embeds the identical values."""
    global _TUNED_W
    if _TUNED_W is None:
        from kenlm_spark.ngram.tune import build_instances, tune_weights
        from kenlm_spark.oracle import arpa_ngram_rows

        rows = [
            list(arpa_ngram_rows(os.path.join(REPO, "tests", "fixtures", f)))
            for f in ("tune_a.arpa", "tune_b.arpa")
        ]
        w = tune_weights(
            build_instances(rows, [s.split() for s in TUNE_HELDOUT])
        )
        s = float(w.sum())
        _TUNED_W = [float(x) / s for x in w]
    return _TUNED_W


def q_interpolate_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 + tune_weights.cc: interpolate two estimator-built models with
    λ TUNED on held-out text (Newton on the log-linear objective,
    tune_derivatives.cc), then applied through the static merge."""
    from kenlm_spark.operators.interpolate_models import interpolate_models
    from kenlm_spark.oracle import arpa_ngram_rows

    import numpy as np

    lam = _tuned_weights()

    def as_df(path):
        rows = [
            (n, g.split(" "), float(np.float32(p)), float(np.float32(b)))
            for n, g, p, b in arpa_ngram_rows(path)
        ]
        return spark.createDataFrame(
            rows,
            "order int, words array<string>, log10_prob double, log10_backoff double",
        )

    a = os.path.join(REPO, "tests", "fixtures", "tune_a.arpa")
    b = os.path.join(REPO, "tests", "fixtures", "tune_b.arpa")
    return interpolate_models([as_df(a), as_df(b)], lam, order=3)


def q_quantize_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-order equal-frequency quantization (4-bit) of the golden
    model's probs/backoffs to bin means."""
    import numpy as np

    from kenlm_spark.operators.quantize import quantize_model
    from kenlm_spark.oracle import arpa_ngram_rows

    rows = [
        (n, g, float(np.float32(p)), float(np.float32(b)))
        for n, g, p, b in arpa_ngram_rows(ARPA_PATH)
    ]
    model = spark.createDataFrame(
        rows, "ord int, gram string, log10_prob double, log10_backoff double"
    )
    return quantize_model(model, bits=4)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: reference whitespace tokens and a BPE-ish
    subword regex (letter runs / digits / punctuation as separate pieces)."""
    c = F.coalesce(F.col("text"), F.lit(""))
    ws = F.regexp_count(c, F.lit("[^\\x00\\t\\n\\r ]+"))
    bpe = F.regexp_count(c, F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\x00\\t\\n\\r ]"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing: REAL PCM16 decode of a synthesized audio
    blob (128 bytes = 64 samples per doc), 16-sample windowing, per-window
    RMS + zero crossings — map-only mapInPandas, exact-integer math up to
    the shared round() so the DuckDB twin matches bitwise."""
    from kenlm_spark.operators.multimodal import audio_features

    clips = _docs(spark, sf_dir).select(
        "doc_id", F.unhex(F.repeat(F.md5("text"), 8)).alias("audio")
    )
    return audio_features(clips, "doc_id", "audio", window=16)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: metadata over a synthesized binary column."""
    from kenlm_spark.operators.multimodal import binary_meta

    df = _docs(spark, sf_dir).select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    return binary_meta(df, "doc_id", "blob")


def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-metadata quality gate (r6): the decode-free image rules
    (resolution floor, aspect bound, byte-plausibility, format set) over
    a deterministic synthesized (w, h, fmt, bytes) per document —
    identical derivation on both engines, so the whole gate tier is
    oracle-checkable. In the pipeline this is FilterConfig.image_rules
    (drop_reason 'image', gated before any caption scoring or decode)."""
    from kenlm_spark.filtering.image_quality import (
        image_metric_exprs,
        image_pass_expr,
    )

    img = _docs(spark, sf_dir).select("doc_id", *_image_payload_exprs())
    m = image_metric_exprs()
    return img.select(
        "doc_id",
        m["min_dim"].alias("min_dim"),
        F.round(m["aspect"], 6).alias("aspect"),
        F.round(m["bytes_per_pixel"], 9).alias("bytes_per_pixel"),
        m["fmt_norm"].alias("fmt_norm"),
        image_pass_expr(m).alias("image_pass"),
    )


def _image_payload_exprs() -> list:
    """The deterministic synthesized (w, h, fmt, bytes) payload columns
    over (doc_id, text) — identical derivation to the q_image_quality /
    q_multimodal_curation oracles' img CTE."""
    hx = F.md5(F.col("doc_id").cast("string"))
    return [
        (
            F.conv(F.substring(hx, 1, 4), 16, 10).cast("long") % 512 + 16
        ).alias("w"),
        (
            F.conv(F.substring(hx, 5, 4), 16, 10).cast("long") % 512 + 16
        ).alias("h"),
        F.element_at(
            F.array(F.lit("raw"), F.lit("png"), F.lit("jpeg"), F.lit("gif")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).alias("fmt"),
        F.unhex(
            F.repeat(
                F.md5(F.coalesce("text", F.lit(""))),
                (F.col("doc_id") % 512 + 1).cast("int"),
            )
        ).alias("bytes"),
    ]


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (r6, Xie et al. 2023): hashed {1,2}-gram
    importance weights of every raw document against a target-domain
    sample (doc_id % 7 == 0 plays the target). The log-ratio table is
    ≤8192 rows and broadcast; the only corpus-scale shuffle is the
    per-doc sum. selected = looks more target-like than raw-like."""
    from kenlm_spark.operators.dsir import dsir_log_weights

    docs = _docs(spark, sf_dir)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    target = docs.filter(F.col("doc_id") % 7 == 0)
    w = dsir_log_weights(raw, target, "doc_id", "text")
    lw = F.round("log_w", 6)
    return w.select(
        F.col("id").alias("doc_id"),
        "n_feats",
        lw.alias("log_w"),
        (lw > F.lit(0.0)).alias("selected"),
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale DSIR selection (r7): keep ~25% of the raw corpus by
    importance weight via a sampled-quantile threshold — the selection
    is a map-only filter (no TakeOrderedAndProject, so the kept set may
    exceed driver memory; that is dsir_topk's limit). The threshold rank
    runs over a bounded hash-threshold sample; here sample_frac=1.0
    (the toy corpus IS sample-sized) — at 100 TB pick ~1e6/corpus."""
    from kenlm_spark.operators.dsir import (
        dsir_log_weights,
        dsir_select_by_quantile,
    )

    docs = _docs(spark, sf_dir)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    target = docs.filter(F.col("doc_id") % 7 == 0)
    w = dsir_log_weights(raw, target, "doc_id", "text")
    sel = dsir_select_by_quantile(w, keep_frac=0.25, sample_frac=1.0)
    return sel.select(
        F.col("id").alias("doc_id"),
        "n_feats",
        "log_w",
        "threshold",
        "selected",
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity partitioning (r6; Wenzek et al. 2020):
    bucket every document head/middle/tail by LM log10-perplexity
    (fixed thresholds — production uses corpus quantiles; literals keep
    the decision engine-exact), then deterministically downsample per
    bucket (head kept, middle 60%, tail 15%) with the hash-threshold
    decision deterministic_sample uses — map-only after scoring, stable
    across runs/partitionings/engines. The bucket test runs on the
    ROUNDED log10_ppl on both engines so the boundary can't flip on a
    last-ulp scoring difference."""
    from kenlm_spark.ngram.scorer import SparkNGramScorer
    from kenlm_spark.operators.dedup import h60

    scorer = SparkNGramScorer(spark, _model())
    df = scorer.with_scores(_docs(spark, sf_dir), "text", prefix="")
    lppl = F.round(
        -F.col("log10_prob") / (F.col("n_tokens") + F.lit(1)), 4
    )
    df = df.select("doc_id", lppl.alias("log10_ppl"))
    bucket = (
        F.when(F.col("log10_ppl") <= 15.3, F.lit("head"))
        .when(F.col("log10_ppl") <= 16.0, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    hmod = F.pmod(
        h60(F.concat(F.lit("ccnet:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    thr = (
        F.when(bucket == "head", F.lit(1_000_000))
        .when(bucket == "middle", F.lit(600_000))
        .otherwise(F.lit(150_000))
    )
    return df.select(
        "doc_id",
        "log10_ppl",
        bucket.alias("ppl_bucket"),
        (hmod < thr).alias("sampled"),
    )


def _phash_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, phash) with planted near-duplicate clusters, derived
    deterministically from doc_id on BOTH engines: a 60-bit md5 base
    shared by each doc_id%97 cluster, XOR'd with 0/1/2 planted bit
    flips by doc_id%3 — so in-cluster Hamming distances span 0..4 and
    cross-cluster pairs are random 60-bit (never within 6).  This is
    the trusted ``phash:int64`` column of the north-rule input schema;
    q_multimodal_phash covers COMPUTING it from pixels."""
    return _docs(spark, sf_dir).select("doc_id", _phash_expr().alias("phash"))


def _phash_expr():
    """The synthesized-phash Column over a doc_id column (see
    _phash_column; twin of _PHASH_COLUMN_SQL's expression)."""
    base = F.conv(
        F.substring(F.md5((F.col("doc_id") % 97).cast("string")), 1, 15),
        16,
        10,
    ).cast("long")
    # F.shiftleft only takes a literal bit count; the SQL form accepts a
    # column expression
    f1 = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))")
    f2 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST((doc_id + 31) % 60 AS INT))"
    )
    flips = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(0).cast("long"))
        .when(F.col("doc_id") % 3 == 1, f1)
        .otherwise(f1.bitwiseXOR(f2))
    )
    return base.bitwiseXOR(flips)


_PHASH_EXPR_SQL = """xor(CAST('0x' || substring(md5(CAST(doc_id % 97 AS VARCHAR)), 1, 15)
                AS BIGINT),
           CASE
             WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT)
             WHEN doc_id % 3 = 1
               THEN (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))
             ELSE xor(
               (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT)),
               (CAST(1 AS BIGINT) << CAST((doc_id + 31) % 60 AS INT)))
           END)"""

_PHASH_COLUMN_SQL = f"""
SELECT doc_id,
       {_PHASH_EXPR_SQL} AS phash
FROM documents
"""

_IMAGE_PAYLOAD_SQL = """doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              AS BIGINT) % 512 + 16 AS w,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 5, 4)
              AS BIGINT) % 512 + 16 AS h,
         ['raw', 'png', 'jpeg', 'gif'][CAST(doc_id % 4 AS INT) + 1] AS fmt,
         unhex(repeat(md5(coalesce(text, '')),
                      CAST(doc_id % 512 AS INT) + 1)) AS bytes"""


def _curation_full_oracle_sql() -> str:
    """DuckDB twin of q_curation_full, assembled from the standalone
    twins: the image payload/phash/caption-hash spine, the phash banding
    pipeline, the caption dup-groups agg, the alignment fake-encoder
    cosine, and the shared k-means + SemDeDup CTEs over the SAME fake
    image embeddings the alignment stage derives."""
    from kenlm_spark.filtering import image_quality as iq
    from kenlm_spark.operators import dedup
    from kenlm_spark.operators import multimodal as mm
    from kenlm_spark.operators.alignment import (
        alignment_scores_sql,
        fake_vec_sql,
    )
    from kenlm_spark.operators.ivf import kmeans_assign_ctes
    from kenlm_spark.operators.semdedup import semdedup_label_ctes

    p = _CURATION_FULL
    # the k-means/SemDeDup source: the alignment twin's image embedding
    # expression, exactly (coalesce-wrapped key, same salt/dim)
    emb = fake_vec_sql(
        "ai:", "coalesce(CAST(doc_id AS VARCHAR), '')", p["dim"]
    )
    esrc = f"(SELECT doc_id AS vec_id, {emb} AS embedding FROM documents) _esrc"
    sem_ctes = ",\n".join(
        semdedup_label_ctes(
            kmeans_assign_ctes(
                p["n_cells"], p["iters"], p["sample"], p["sample_frac"],
                esrc, "vec_id", "embedding",
            ),
            p["tau"], p["max_cell"], p["iters"],
        )
    )
    return f"""
WITH img AS (
  SELECT {_IMAGE_PAYLOAD_SQL},
         {_PHASH_EXPR_SQL} AS phash,
         {dedup._h60_sql(dedup._norm_sql('text'))} AS _th
  FROM documents
),
sp AS (
  SELECT doc_id, phash, _th, {iq.image_pass_sql()} AS image_pass FROM img
),
pp AS ({mm.phash_near_pairs_sql('sp', 'doc_id', 'phash').strip()}),
pdrop AS (SELECT DISTINCT id_b FROM pp),
dupg AS (
  SELECT _th, MIN(doc_id) AS keep_id
  FROM sp GROUP BY _th HAVING count(*) > 1
),
al AS ({alignment_scores_sql(
        dim=p["dim"], threshold=p["align_threshold"]).strip()}),
{sem_ctes},
lab AS (
  SELECT s.doc_id, s.image_pass,
         s.doc_id NOT IN (SELECT id_b FROM pdrop) AS image_canonical,
         (d.keep_id IS NULL OR s.doc_id = d.keep_id) AS caption_canonical,
         a.align_score, a.keep AS aligned,
         s.doc_id NOT IN (SELECT nid FROM losers) AS semantic_canonical
  FROM sp s
  LEFT JOIN dupg d ON d._th = s._th
  JOIN al a ON a.id = s.doc_id
)
SELECT doc_id, image_pass, image_canonical, caption_canonical,
       align_score, aligned, semantic_canonical,
       (image_pass AND image_canonical AND caption_canonical
        AND aligned AND semantic_canonical) AS selected,
       CASE WHEN NOT image_pass THEN 'image'
            WHEN NOT image_canonical THEN 'image_dup'
            WHEN NOT caption_canonical THEN 'caption_dup'
            WHEN NOT aligned THEN 'alignment'
            WHEN NOT semantic_canonical THEN 'semantic_dup'
            ELSE 'none' END AS drop_reason
FROM lab
"""


def q_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate dedup over the TRUSTED phash:int64 column of
    the north-rule input schema (r6) — no pixel decode: banded bucket
    self-join (pigeonhole-exact recall at Hamming<=6) + exact popcount
    verify + greedy smaller-id-wins keep labels.  The image-modality
    twin of q_dedup_simhash_pairs, and the cheap tier that removes
    re-crawled/resized copies of the same image before any caption work."""
    from kenlm_spark.operators.multimodal import phash_dedup_labels

    return phash_dedup_labels(
        _phash_column(spark, sf_dir), id_col="doc_id", phash_col="phash"
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (r6; Abbas et al. 2023): k-means-cluster the embedding
    corpus (reusing the IVF coarse quantizer), then inside each cluster
    drop all but the least-centroid-typical member of every cosine>=tau
    group. The synthetic embeddings top out near cosine 0.51, so this
    entry runs tau=0.4 (production near-dup territory is >=0.9); the
    semantics under test — shared clustering, in-cell pairing, the
    paper's keep rule — don't depend on the threshold."""
    from kenlm_spark.operators.semdedup import semdedup_labels

    emb = _read(spark, sf_dir, "embeddings")
    return semdedup_labels(emb, tau=0.4, n_cells=16)


def q_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation (r6): the image-side operators COMPOSED with
    caption exact-dedup over ONE spine — the job shape of the north rule
    on image+caption pairs: (1) decode-free image-metadata gate, (2)
    phash near-dup dedup keeping the canonical image, (3) caption
    exact-dedup keeping the canonical caption; `selected` = all three,
    `drop_reason` = first failing stage (image > image_dup >
    caption_dup).  Spine lesson from the r6 q_corpus_curation audit:
    the image metrics, phash, and caption hash are map-side COLUMNS on
    one scan; the only join-backs are the pair-bounded phash dropped
    set (broadcast) and the caption canonical groups (keyed on the
    int64 hash the spine already carries)."""
    from kenlm_spark.filtering.image_quality import (
        image_metric_exprs,
        image_pass_expr,
    )
    from kenlm_spark.operators.dedup import exact_duplicates, h60, norm_text
    from kenlm_spark.operators.multimodal import phash_dropped_ids

    docs = _docs(spark, sf_dir)
    spine = docs.select(
        "doc_id",
        *_image_payload_exprs(),
        _phash_expr().alias("phash"),
        h60(norm_text("text")).alias("_th"),
    )
    m = image_metric_exprs()
    spine = spine.select(
        "doc_id", "phash", "_th", image_pass_expr(m).alias("image_pass")
    )
    # r8: dropped-id fast path — distinct over id_b only (the label set),
    # not over the multi-band pair emissions (guide §2.3)
    pdrop = (
        phash_dropped_ids(
            spine.select("doc_id", "phash"), "doc_id", "phash"
        )
        .select(F.col("id_b").alias("doc_id"))
        .withColumn("_pdrop", F.lit(True))
    )
    dups = exact_duplicates(docs).select(
        F.col("text_hash").alias("_th"), "keep_id"
    )
    out = (
        spine.join(F.broadcast(pdrop), "doc_id", "left")
        .join(dups, "_th")
        .select(
            "doc_id",
            "image_pass",
            F.col("_pdrop").isNull().alias("image_canonical"),
            (F.col("doc_id") == F.col("keep_id")).alias("caption_canonical"),
        )
    )
    return out.select(
        "doc_id",
        "image_pass",
        "image_canonical",
        "caption_canonical",
        (
            F.col("image_pass")
            & F.col("image_canonical")
            & F.col("caption_canonical")
        ).alias("selected"),
        F.when(~F.col("image_pass"), F.lit("image"))
        .when(~F.col("image_canonical"), F.lit("image_dup"))
        .when(~F.col("caption_canonical"), F.lit("caption_dup"))
        .otherwise(F.lit("none"))
        .alias("drop_reason"),
    )


#: q_curation_full knobs — one place so the Spark query and the oracle
#: can never drift (tau picked so the fake 8-dim embeddings produce
#: in-cell near-dup groups at toy scale; production CLIP uses ~0.95)
_CURATION_FULL = dict(
    dim=8, align_threshold=0.1, tau=0.8,
    n_cells=8, iters=5, sample=4096, sample_frac=0.5, max_cell=5000,
)


def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL multimodal curation (r7): every image+caption stage the
    engine ships, composed on ONE spine in one lazy DAG — decode-free
    image gate, phash near-dup image dedup, exact caption dedup, CLIP-
    score alignment gate (fake encoders — the container has no CLIP),
    and SemDeDup over the SAME image embeddings the alignment stage
    computes. One fused Arrow crossing for the corpus (alignment +
    semdedup assign share the encoder call); the only other crossing is
    semdedup's cell-bounded pair verify; every label join-back is a
    duplicate-bounded broadcast. drop_reason = first failing stage,
    cheapest first: image > image_dup > caption_dup > alignment >
    semantic_dup."""
    from kenlm_spark.filtering.image_quality import (
        image_metric_exprs,
        image_pass_expr,
    )
    from kenlm_spark.operators.alignment import (
        fake_image_encoder,
        fake_text_encoder,
    )
    from kenlm_spark.operators.curation import curate_multimodal_full
    from kenlm_spark.operators.dedup import h60, norm_text

    p = _CURATION_FULL
    docs = _docs(spark, sf_dir)
    spine = docs.select(
        "doc_id",
        "text",
        F.col("doc_id").cast("string").alias("img_key"),
        *_image_payload_exprs(),
        _phash_expr().alias("phash"),
        h60(norm_text("text")).alias("caption_hash"),
    )
    spine = spine.select(
        "doc_id",
        "text",
        "img_key",
        "phash",
        "caption_hash",
        image_pass_expr(image_metric_exprs()).alias("image_pass"),
    )
    return curate_multimodal_full(
        spine,
        fake_text_encoder(p["dim"]),
        fake_image_encoder(p["dim"]),
        id_col="doc_id",
        caption_col="text",
        image_key_col="img_key",
        align_threshold=p["align_threshold"],
        tau=p["tau"],
        n_cells=p["n_cells"],
        iters=p["iters"],
        sample=p["sample"],
        sample_frac=p["sample_frac"],
        max_cell=p["max_cell"],
    )


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (r6; the DataComp-style
    balancing step after SemDeDup): downsample every k-means cell to
    ~per_cell members via an integer hash-threshold quota — head
    clusters stop dominating the mix, and the plan is one partially
    aggregated count per cell + a map-only filter (no corpus-scale
    Window)."""
    from kenlm_spark.operators.semdedup import cluster_balanced_sample

    emb = _read(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, per_cell=10, n_cells=16)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (r6): the LM-training
    windowing step (GPT-2-style strided windows) as one map-only
    Catalyst projection — tokenize, stride starts, posexplode, slice.
    Toy window (12 tokens, overlap 4) so multi-chunk documents are
    common at caption lengths; production uses the model context size."""
    from kenlm_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), max_tokens=12, overlap=4
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (r7): document → fixed-token-budget training
    sequence assignment, packed independently within deterministic hash
    groups so the only shuffle is partition-by-group + in-group sort —
    the concat-and-pack step downstream of chunking. Toy budget (64
    tokens, 8 groups) so multi-document sequences and budget-spanning
    documents are both common at caption lengths."""
    from kenlm_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget_tokens=64, n_groups=8
    )


def q_pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training sequences (r7): every document's
    tokens concatenated in packing order per (grp, seq_id) — the
    token arrays ride the SAME single partition-by-group exchange as
    the assignment window (no corpus-keyed rejoin), then one
    partial-aggregating rollup on the fine-grained sequence key."""
    from kenlm_spark.operators.packing import pack_payloads

    return pack_payloads(
        _docs(spark, sf_dir), budget_tokens=64, n_groups=8
    )


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (r7): every image is assigned the
    nearest-aspect (w, h) training shape from the SDXL-style ladder —
    map-only Catalyst arithmetic (boundary comparisons on one double
    division), riding the same scan as the metadata quality gate. Over
    the deterministic synthesized (w, h) payload shared with
    q_image_quality."""
    from kenlm_spark.operators.image_buckets import assign_aspect_buckets

    img = _docs(spark, sf_dir).select("doc_id", *_image_payload_exprs())
    return assign_aspect_buckets(img)


def q_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (r6; the SlimPajama/DoReMi mixing
    step): cap every source domain at a fixed training-token budget via
    deterministic integer hash-threshold document sampling. One corpus
    pass + a low-cardinality broadcast of per-domain totals; heavy
    domains downsample toward the budget, light ones keep everything."""
    from kenlm_spark.operators.mixing import rebalance_by_domain

    return rebalance_by_domain(
        _docs(spark, sf_dir), budget_tokens_per_domain=800
    )


def q_alignment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text alignment gate (r6): the LAION/DataComp CLIP-score
    filter shape — embed caption and image, keep iff cosine >= t — run
    through the engine's pluggable-encoder operator with the
    deterministic md5-fake encoders (the container has no CLIP), so the
    full Spark contract (one Arrow crossing, unit-norm, seq-dot cosine,
    gate) is value-checked against DuckDB. Threshold 0.1 splits random
    8-dim fakes; production runs open_clip at ~0.28."""
    from kenlm_spark.operators.alignment import (
        alignment_scores,
        fake_image_encoder,
        fake_text_encoder,
    )

    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.col("doc_id").cast("string").alias("img_key"),
    )
    return alignment_scores(
        pairs,
        id_col="doc_id",
        caption_col="text",
        image_key_col="img_key",
        text_encoder=fake_text_encoder(8),
        image_encoder=fake_image_encoder(8),
        threshold=0.1,
    )


def q_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text→image retrieval recall (r7): rank each caption's OWN image
    by cosine among a deterministic hash-sampled negative pool — the
    standard eval of CLIP-filtered pair data, in its scale shape
    (bounded pool broadcast, ONE map-only Arrow crossing for the
    corpus; nobody ranks the full 10^12 corpus). Deterministic md5-fake
    encoders, same contract as q_alignment_filter."""
    from kenlm_spark.operators.alignment import (
        fake_image_encoder,
        fake_text_encoder,
        retrieval_recall,
    )

    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.col("doc_id").cast("string").alias("img_key"),
    )
    return retrieval_recall(
        pairs,
        id_col="doc_id",
        caption_col="text",
        image_key_col="img_key",
        pool_mod=5,
        k=5,
        text_encoder=fake_text_encoder(8),
        image_encoder=fake_image_encoder(8),
    )


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: winnowing (MOSS) over Rabin-Karp rolling
    hashes — rightmost-minimal k-gram hash per window, map-only."""
    from kenlm_spark.operators.fingerprint import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (r4): DCT pHash computed from REAL
    decoded pixels of the deterministic image corpus, then Hamming<=6
    near-pairs via pigeonhole bit-bands (exact recall, pytest-verified
    against brute-force popcount). No SQL oracle: the image bytes are
    numpy-generated, not DuckDB-reachable — rows-only check."""
    from kenlm_spark.data import generate_images
    from kenlm_spark.operators.multimodal import phash_near_pairs, with_phash

    images = generate_images(spark, n_rows=400, seed=17)
    hashed = with_phash(images).select(
        "image_id", F.col("phash_computed").alias("ph")
    )
    return phash_near_pairs(hashed, phash_col="ph", max_hamming=10).orderBy(
        "id_a", "id_b"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: map-only fan-out of sampled frames
    from synthesized binary blobs (deterministic fake decoder — no codecs
    in the container — so even the 'decode' is oracle-checkable)."""
    from kenlm_spark.operators.multimodal import frame_sample

    d = _docs(spark, sf_dir)
    blob = F.unhex(
        F.concat(F.md5("text"), F.md5("text"), F.md5("text"), F.md5("text"))
    )
    videos = d.select(
        F.col("doc_id").cast("string").alias("video_id"),
        blob.alias("bytes"),
        F.lit("fake").alias("fmt"),
        F.lit(8).alias("n_frames"),
    )
    out = frame_sample(videos, every_n=3)
    return out.select(
        "video_id",
        "frame_idx",
        "decoded_real",
        F.hex("frame_bytes").alias("frame_hex"),
    )


def q_lm_model_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: count-threshold pruning — singleton bigrams/trigrams dropped,
    their mass folded into the context gammas."""
    from kenlm_spark.estimator import estimate

    model, _ = estimate(
        _docs(spark, sf_dir), "text", order=3, prune_thresholds={2: 1, 3: 1}
    )
    return model.select(
        F.col("order").alias("ord"),
        F.concat_ws(" ", "words").alias("gram"),
        F.round("log10_prob", 6).alias("log10_prob"),
        F.round("log10_backoff", 6).alias("log10_backoff"),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (near, embedding-cosine), LSH scale path: sign-LSH bucket
    candidates (numpy mapInPandas, linear) + exact cosine verify. The md5
    hyperplanes are deterministic, so the bucketed path itself is
    oracle-checked. The synthetic embeddings max out near 0.51 cosine —
    far below real near-dup territory — so this entry runs at threshold
    0.4 with 8 planes (production near-dup default is 16 planes at
    threshold ≥0.9, where recall ≈1; fewer planes = more recall at loose
    thresholds, bigger buckets)."""
    from kenlm_spark.operators.similarity import embedding_near_dups

    emb = _read(spark, sf_dir, "embeddings")
    # bucket_verify (r8): at this loose threshold / 8-plane config the
    # candidate set is pair-DENSE (pairs >> n_tables x corpus), so the
    # per-bucket vectorized verify moves and computes less than the
    # id-only-band + pair-join shape — which stays the default for the
    # production high-threshold regime where pairs are duplicate-bounded
    return embedding_near_dups(
        emb, threshold=0.4, use_lsh=True, n_planes=8, bucket_verify=True
    )


def q_langid_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised language-ID trained IN-ENGINE: char-trigram Naive Bayes
    (fastText-shaped linear bag-of-ngrams) fit on the labeled documents
    table by relational aggs, predicted by an equi-join + argmax — the
    whole train→predict path oracle-checked."""
    from kenlm_spark.filtering.langid_nb import (
        predict_langid_nb,
        train_langid_nb,
    )

    docs = _docs(spark, sf_dir)
    weights, priors = train_langid_nb(docs)
    return predict_langid_nb(docs, weights, priors)


def q_contamination_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination (r5): the contamination check as a
    STREAM-STATIC join — streaming corpus docs against the static
    benchmark 5-gram hash set (the production shape: eval-set hashes
    are a slowly-changing static table; ingest is a stream). Drained
    with availableNow; must hash-match q_contamination's oracle."""
    import uuid

    from pyspark.sql import functions as F

    from kenlm_spark.operators.dedup import contamination_check
    from kenlm_spark.streaming.jobs import run_available_now

    src = _stream_src(sf_dir, "documents")
    schema = spark.read.parquet(src).schema
    stream = _spread_stream(
        spark.readStream.schema(schema)
        .parquet(src)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 97 != 0)
    )
    bench = spark.read.parquet(src).filter(F.col("doc_id") % 97 == 0)
    # broadcast=True (r8): the benchmark side is the tiny eval set by
    # construction; skipping the size-probe count deletes a blocking
    # pre-job from the drain — the q_corpus_curation precedent, same
    # broadcast the probe would have chosen, identical results.
    out = contamination_check(stream, bench, shingle_k=5, broadcast=True)
    name = f"contamination_stream_{uuid.uuid4().hex[:8]}"
    run_available_now(out, name, collect_rows=False)
    return spark.sql(f"SELECT * FROM {name}")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (r5 showpiece): the pipeline operators
    COMPOSED into one lazy plan — exact-dedup canonical selection +
    benchmark decontamination + the full quality keep/drop + a
    deterministic 50% hash sample — emitting per-document stage
    attribution and the final `selected` bit. This is the job a
    training-data pipeline actually runs; every stage reuses an
    oracle-checked operator and Catalyst optimizes the composition as
    one DAG (no intermediate materialization)."""
    from pyspark.sql import functions as F

    from kenlm_spark.operators.dedup import (
        contamination_check,
        h60,
        norm_text,
    )

    docs = _docs(spark, sf_dir)
    kd = _keep_drop_frame(spark, docs).select("doc_id", "keep")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # broadcast=True: the benchmark side is the tiny eval set by
    # construction; skipping the size-guard count keeps the whole
    # composition ONE lazy DAG (no pre-job).
    cont = contamination_check(
        docs, bench, shingle_k=5, broadcast=True
    ).select("doc_id", "contaminated")
    # r6 restructure (exchange-reuse audit, BENCH/PLANS.md): cheap stages
    # are COLUMNS over one spine, not self-joins.  The deterministic
    # sample bit is pure map-side arithmetic — computing it on the spine
    # deletes a whole corpus scan + exchange + join; the dedup hash _th
    # is likewise computed on the spine so the canonical join keys off it
    # directly.  The remaining joins chain doc_id-partitioned sides (cont
    # aggregates BY doc id, kd is map-only), so in the no-broadcast
    # regime the spine is exchanged once per distinct key (_th, doc_id)
    # and the doc_id partitioning carries through the join chain instead
    # of re-shuffling per stage.
    bucket = F.pmod(
        h60(F.concat(F.lit("curate:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    spine = docs.select(
        "doc_id",
        h60(norm_text("text")).alias("_th"),
        (bucket < 500_000).alias("in_sample"),
    )
    # Canonical selection as a window min over the spine's own _th
    # exchange (r8, guide §2.4): keep_id == MIN(doc_id) per text_hash,
    # so the exact_duplicates groupBy + join-back was a second corpus
    # scan + an extra SMJ for a value the window computes on the
    # partitioning the spine already needs.  Same result bit-for-bit
    # (inner join on _th matched every row exactly once).
    from pyspark.sql import Window

    w_th = Window.partitionBy("_th")
    return (
        spine.select(
            "doc_id",
            (F.col("doc_id") == F.min("doc_id").over(w_th)).alias(
                "is_canonical"
            ),
            "in_sample",
        )
        .join(cont, "doc_id")
        .join(kd, "doc_id")
        .select(
            "doc_id",
            "is_canonical",
            "contaminated",
            F.col("keep").alias("quality_keep"),
            "in_sample",
            (
                F.col("is_canonical")
                & ~F.col("contaminated")
                & F.col("keep")
                & F.col("in_sample")
            ).alias("selected"),
        )
    )


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: predicted vs provided language histogram."""
    from kenlm_spark.filtering.langid import lang_expr

    return (
        _docs(spark, sf_dir)
        .select(F.col("lang"), lang_expr("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_parts_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join breadth: lineitem ⋈ part ⋈ supplier revenue by brand/nation."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tier 3 (r4): IVF-PQ — coarse cells + product-quantization
    codes (m=8 subspaces x 16 sampled codewords), candidates scored on
    codeword RECONSTRUCTIONS (= the classic ADC lookup sum). The
    memory tier for 1e12-vector corpora; brute-force and IVF-flat stay
    above it as re-rank/ground-truth. Full DuckDB oracle (coarse
    k-means CTE chain + encoding + reconstruction)."""
    from kenlm_spark.operators.ivf import ivf_pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, query_ids=list(range(8)), k=10)


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2: IVF coarse-quantizer probing (deterministic
    Lloyd k-means, n_probe cells, exact re-rank). Training is
    deterministic (by-id sample, first-k init, fixed iterations), so the
    whole path has a DuckDB oracle with the Lloyd loop unrolled in SQL;
    recall additionally tested against the exact top-k."""
    from kenlm_spark.operators.ivf import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_ids=list(range(8)), k=10, n_cells=8, n_probe=3)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General agg coverage: TPC-H Q1-style rollup on lineitem."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").cast("long").alias("count_order"),
    )


def q_orders_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join coverage: orders ⋈ customer ⋈ broadcast(nation) revenue rollup."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window functions: a new session starts after a
    >30 min gap per user; output per-session stats."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # double-epoch keeps sub-second precision identical to the oracle
    # (TIMESTAMP_NTZ casts to double only via an explicit timestamp hop)
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = ep - F.lag(ep).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = ev.withColumn("session_seq", F.sum(is_new).over(w))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 3).alias("sum_value"),
        F.min("ts").alias("session_start"),
    ).select(
        "user_id", F.col("session_seq").cast("long"), "n_events",
        "sum_value", "session_start",
    )


def q_events_user_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage: top-3 events by value per user."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "user_id", "event_id", F.round("value", 6).alias("value"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling rollup (batch twin of the streaming operator)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )


#: r7 driver window (the FIRST 50 entries of queries()): the 28 queries
#: r6 rotated out (returning — all r5-green and untouched since), the
#: 14 r7-touched/new queries (q_dsir_select + q_curation_full +
#: q_pack_sequences + q_pack_payloads + q_aspect_buckets +
#: q_retrieval_recall are new; q_domain_rebalance got the twin CAST +
#: exact-division rewrite; semdedup/ivf/alignment were refactored under
#: q_dedup_semantic, q_cluster_sample, q_similarity_ivf/_ivf_pq,
#: q_alignment_filter, q_multimodal_curation; dsir under
#: q_dsir_weights), and 8 fill (streaming paths + the r6-new
#: image/selection queries). The 34 rotated out are untouched this
#: round and hash-green in CORRECTNESS_r06.json — see
#: BENCH/SAMPLED_WINDOWS.md.
#: r8 (optimization round) window: every query whose FUNCTION or
#: exercised operator changed this round sits inside (39 — the md5
#: kernel + Arrow-pass rewrites touch the dedup/DSIR/contamination/
#: alignment families, the position-explode rewrite the whole estimator
#: family, and the keep_cols/_spread_stream entry changes the keep-drop
#: and stream paths); the 11 fill slots go to queries whose BACKING
#: MODULE changed but whose functions did not (additive or sibling-
#: function edits: word_counts in ngrams.py, the quality exprs next to
#: the new repetition frame, the untouched multimodal/cluster/exact-
#: dedup siblings).  The 34 outside are on untouched modules (scorer,
#: model_filter, quantize, mixing, image_quality, packing, chunking,
#: langid-heuristic, TPC-H twins) except q_dedup_simhash /
#: q_dedup_passages (dedup.py siblings, functions untouched) — ALL 84
#: re-verified green this round through the local Arrow-typed gate at
#: sf0.01 (scripts/check_oracles.py; see BENCH/SAMPLED_WINDOWS.md r8).
_R8_WINDOW = [
    # r8 function-touched (39)
    "q_lm_windows_3", "q_lm_adjusted_1", "q_lm_adjusted_2",
    "q_lm_model_3", "q_lm_model_pruned", "q_filter_counts",
    "q_ngram_count_2", "q_ngram_count_3",
    "q_dedup_phash", "q_multimodal_phash", "q_multimodal_curation",
    "q_curation_full", "q_repetition_metrics",
    "q_dedup_embedding", "q_similarity_topk", "q_similarity_lsh",
    "q_similarity_ivf", "q_similarity_ivf_pq",
    "q_keep_drop_stream", "q_contamination_stream", "q_dedup_exact_stream",
    "q_events_user_stats_stream",
    "q_dedup_minhash", "q_dedup_components", "q_dedup_canonical",
    "q_contamination", "q_corpus_curation", "q_sample_stratified",
    "q_dsir_weights", "q_dsir_select", "q_fingerprint_winnow",
    "q_interpolate_models", "q_interpolate_tuned", "q_langid_nb",
    "q_alignment_filter", "q_retrieval_recall", "q_dedup_semantic",
    "q_keep_drop", "q_filter_metrics",
    # fill: backing module changed, function untouched (11)
    "q_word_freq", "q_quality_metrics", "q_quality_filter",
    "q_multimodal_meta", "q_multimodal_frames", "q_audio_features",
    "q_cluster_sample", "q_dedup_exact", "q_dedup_jaccard",
    "q_dedup_simhash_pairs", "q_keep_drop_join",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering note: the external driver samples the FIRST 50 entries of
    # this dict per round.  Rotation policy (documented per round in
    # BENCH/SAMPLED_WINDOWS.md so cross-round totals stay comparable):
    # every query whose code changed this round MUST sit inside the
    # window; queries outside the window must be unchanged AND hash-green
    # in the previous round's driver record; unsampled-last-round queries
    # rotate back in.  r6 window = the 16 queries r5 did not sample
    # (all green in r4 + re-verified locally) + the 20 r6-touched/new
    # queries (passage/contamination/curation/IVF-PQ rewrites, every
    # scorer-path query — now on the compiled kernel — and the new
    # q_filter_metrics + q_image_quality + q_dsir_weights +
    # q_ccnet_buckets) + 14 fill; the 20 rotated out are untouched and
    # r5-hash-green.  r7: the dict literal keeps its logical grouping;
    # the driver-facing order is applied from _R8_WINDOW at return.
    d = {
        # --- r5-unsampled, rotated back in (16)
        "q_sample_stratified": q_sample_stratified,
        "q_dedup_jaccard": q_dedup_jaccard,
        "q_dedup_simhash": q_dedup_simhash,
        "q_dedup_simhash_pairs": q_dedup_simhash_pairs,
        "q_fingerprint_winnow": q_fingerprint_winnow,
        "q_similarity_topk": q_similarity_topk,
        "q_similarity_lsh": q_similarity_lsh,
        "q_dedup_embedding": q_dedup_embedding,
        "q_lang_agreement": q_lang_agreement,
        "q_langid_nb": q_langid_nb,
        "q_parts_supplier_revenue": q_parts_supplier_revenue,
        "q_filter_vocab_single": q_filter_vocab_single,
        "q_filter_counts": q_filter_counts,
        "q_filter_phrase": q_filter_phrase,
        "q_filter_vocab_union": q_filter_vocab_union,
        "q_events_sessions": q_events_sessions,
        # --- r6-touched (16): dedup/contamination/curation/IVF-PQ +
        # every query on the scorer path (compiled kernel)
        "q_dedup_passages": q_dedup_passages,
        "q_contamination": q_contamination,
        "q_contamination_stream": q_contamination_stream,
        "q_corpus_curation": q_corpus_curation,
        "q_similarity_ivf_pq": q_similarity_ivf_pq,
        "q_score_captions": q_score_captions,
        "q_score_captions_binary": q_score_captions_binary,
        "q_score_captions_trie": q_score_captions_trie,
        "q_score_captions_trie_rt": q_score_captions_trie_rt,
        "q_score_captions_join": q_score_captions_join,
        "q_score_fragments": q_score_fragments,
        "q_score_stupid_backoff": q_score_stupid_backoff,
        "q_corpus_ppl": q_corpus_ppl,
        "q_keep_drop": q_keep_drop,
        "q_keep_drop_stream": q_keep_drop_stream,
        "q_keep_drop_join": q_keep_drop_join,
        "q_filter_metrics": q_filter_metrics,  # NEW r6 (observed-metrics twin)
        "q_image_quality": q_image_quality,  # NEW r6 (image-payload gate)
        "q_dsir_weights": q_dsir_weights,  # NEW r6 (importance resampling)
        "q_dsir_select": q_dsir_select,  # NEW r7 (corpus-scale selection)
        "q_ccnet_buckets": q_ccnet_buckets,  # NEW r6 (ppl partitioning)
        "q_dedup_phash": q_dedup_phash,  # NEW r6 (image phash near-dup)
        "q_dedup_semantic": q_dedup_semantic,  # NEW r6 (SemDeDup)
        "q_multimodal_curation": q_multimodal_curation,  # NEW r6 (composed)
        "q_curation_full": q_curation_full,  # NEW r7 (full 5-stage spine)
        "q_ppl_by_source": q_ppl_by_source,  # NEW r6 (per-domain eval)
        "q_cluster_sample": q_cluster_sample,  # NEW r6 (cluster balancing)
        "q_chunk_documents": q_chunk_documents,  # NEW r6 (training windows)
        "q_pack_sequences": q_pack_sequences,  # NEW r7 (concat-and-pack)
        "q_pack_payloads": q_pack_payloads,  # NEW r7 (materialized seqs)
        "q_retrieval_recall": q_retrieval_recall,  # NEW r7 (CLIP-eval)
        "q_aspect_buckets": q_aspect_buckets,  # NEW r7 (SDXL aspect ladder)
        "q_domain_rebalance": q_domain_rebalance,  # NEW r6 (data mixing)
        "q_alignment_filter": q_alignment_filter,  # NEW r6 (CLIP-score gate)
        # --- window fill (6; q_word_freq, q_ngram_count_2, q_lm_windows_3,
        # q_lm_adjusted_2, q_lm_adjusted_1, q_lm_model_pruned, q_lm_model_3,
        # q_ngram_count_3 rotated out for the eight new r6 queries — all
        # untouched since r1, hash-green in CORRECTNESS_r05.json)
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_exact_stream": q_dedup_exact_stream,
        "q_dedup_minhash": q_dedup_minhash,
        "q_dedup_components": q_dedup_components,
        "q_dedup_canonical": q_dedup_canonical,
        "q_similarity_ivf": q_similarity_ivf,
        # --- outside the 50-window: untouched this round, hash-green in
        # the r5 driver record (CORRECTNESS_r05.json)
        "q_word_freq": q_word_freq,
        "q_ngram_count_2": q_ngram_count_2,
        "q_lm_windows_3": q_lm_windows_3,
        "q_lm_adjusted_2": q_lm_adjusted_2,
        "q_lm_adjusted_1": q_lm_adjusted_1,
        "q_lm_model_pruned": q_lm_model_pruned,
        "q_lm_model_3": q_lm_model_3,
        "q_ngram_count_3": q_ngram_count_3,
        "q_langid": q_langid,
        "q_scrub": q_scrub,
        "q_quality_metrics": q_quality_metrics,
        "q_quality_filter": q_quality_filter,
        "q_filter_vocab_multiple": q_filter_vocab_multiple,
        "q_interpolate_models": q_interpolate_models,
        "q_interpolate_tuned": q_interpolate_tuned,
        "q_quantize_model": q_quantize_model,
        "q_token_stats": q_token_stats,
        "q_multimodal_meta": q_multimodal_meta,
        "q_audio_features": q_audio_features,
        "q_multimodal_frames": q_multimodal_frames,
        "q_multimodal_phash": q_multimodal_phash,
        "q_tpch_q1": q_tpch_q1,
        "q_orders_customer_revenue": q_orders_customer_revenue,
        "q_events_hourly": q_events_hourly,
        "q_events_user_rank": q_events_user_rank,
        "q_events_user_stats_stream": q_events_user_stats_stream,
        "q_repetition_metrics": q_repetition_metrics,
        "q_url_filter": q_url_filter,
    }
    missing = [k for k in _R8_WINDOW if k not in d]
    if missing or len(_R8_WINDOW) != 50 or len(set(_R8_WINDOW)) != 50:
        raise RuntimeError(
            f"driver window misconfigured: missing={missing}, "
            f"len={len(_R8_WINDOW)}"
        )
    ordered = {k: d[k] for k in _R8_WINDOW}
    ordered.update({k: v for k, v in d.items() if k not in ordered})
    return ordered


# --------------------------------------------------------------------------
# oracle SQL — DuckDB dialect
# --------------------------------------------------------------------------

def _ng_cte() -> str:
    """ng(ord, gram) VALUES CTE of the golden ARPA model's n-grams."""
    from kenlm_spark.oracle import arpa_ngram_rows

    vals = ",\n    ".join(
        f"({n}, '{g.replace(chr(39), chr(39) * 2)}')"
        for n, g, _, _ in arpa_ngram_rows(ARPA_PATH)
    )
    return f"ng(ord, gram) AS (VALUES\n    {vals})"


def _filter_counts_sql() -> str:
    from kenlm_spark import estimator_sql as est_sql
    from kenlm_spark.oracle import sql_tokens

    return f"""
WITH {est_sql.windows_cte('documents', 'text', 2)},
v AS (
  SELECT word FROM (
    SELECT t.word, count(*) AS c FROM
      (SELECT unnest({sql_tokens('text')}) AS word FROM documents) t
    GROUP BY t.word
  ) WHERE c >= 20
)
SELECT array_to_string(words, ' ') AS gram, cnt
FROM w_all
WHERE NOT EXISTS (
  SELECT 1 FROM unnest(words) AS t(word)
  WHERE NOT regexp_matches(t.word, '^<.*>$')
    AND t.word NOT IN (SELECT word FROM v)
)
"""


def _langid_nb_sql() -> str:
    from kenlm_spark.filtering.langid_nb import langid_nb_sql

    return langid_nb_sql()


def _filter_phrase_sql() -> str:
    from kenlm_spark.operators.phrase_filter import phrase_filter_sql

    return phrase_filter_sql(_ng_cte(), PHRASES)


def _fingerprint_sql() -> str:
    from kenlm_spark.operators.fingerprint import winnow_fingerprints_sql

    return winnow_fingerprints_sql()


def _ivf_sql() -> str:
    from kenlm_spark.operators.ivf import ivf_topk_sql

    return ivf_topk_sql(list(range(8)), k=10, n_cells=8, n_probe=3)


def _ivf_pq_sql() -> str:
    from kenlm_spark.operators.ivf import ivf_pq_topk_sql

    return ivf_pq_topk_sql(list(range(8)), k=10)


def oracle_sql() -> dict[str, str]:
    from kenlm_spark.filtering.langid import lang_sql
    from kenlm_spark.filtering.quality import quality_pass_sql, quality_sql_exprs
    from kenlm_spark.filtering.scrub import scrub_sql
    from kenlm_spark import estimator_sql as est_sql
    from kenlm_spark.operators import dedup
    from kenlm_spark.operators import similarity as sim
    from kenlm_spark.operators.interpolate_models import interpolate_models_sql
    from kenlm_spark.operators.ngrams import ngram_counts_sql
    from kenlm_spark.operators.quantize import quantize_model_sql
    from kenlm_spark.oracle import ngram_values_cte, scoring_sql, sql_tokens

    score = scoring_sql(ARPA_PATH, order=_model().order)
    score_raw = scoring_sql(ARPA_PATH, order=_model().order, include_raw=True)
    qm = quality_sql_exprs("text")
    toks = sql_tokens("text")

    keep_drop = f"""
WITH scored AS ({score_raw})
SELECT d.doc_id,
       {lang_sql("d.text")} AS lang_pred,
       {quality_pass_sql("d.text")} AS quality_pass,
       CASE
         WHEN NOT ({quality_pass_sql("d.text")}) THEN 'quality'
         WHEN ({lang_sql("d.text")}) <> 'en' THEN 'lang'
         WHEN CAST(s.oov_count AS DOUBLE) / greatest(s.n_tokens, 1) > 0.5
           THEN 'oov'
         WHEN -s.log10_prob_raw / (s.n_tokens + 1) > 5.0 THEN 'perplexity'
         ELSE NULL
       END AS drop_reason,
       (CASE
         WHEN NOT ({quality_pass_sql("d.text")}) THEN 'quality'
         WHEN ({lang_sql("d.text")}) <> 'en' THEN 'lang'
         WHEN CAST(s.oov_count AS DOUBLE) / greatest(s.n_tokens, 1) > 0.5
           THEN 'oov'
         WHEN -s.log10_prob_raw / (s.n_tokens + 1) > 5.0 THEN 'perplexity'
         ELSE NULL
       END) IS NULL AS keep,
       {scrub_sql("d.text")} AS scrubbed
FROM documents d JOIN scored s ON s.doc_id = d.doc_id
"""

    stupid = scoring_sql(ARPA_PATH, order=_model().order, stupid_backoff=True)
    stupid = (
        "SELECT doc_id, log10_prob, oov_count, n_tokens FROM (" + stupid + ")"
    )
    corpus_ppl = f"""
WITH s AS ({score_raw})
SELECT round(SUM(log10_prob_raw), 2) AS sum_log10_prob,
       CAST(SUM(n_tokens + 1) AS BIGINT) AS n_scored,
       CAST(SUM(oov_count) AS BIGINT) AS n_oov,
       round(-SUM(log10_prob_raw) / SUM(n_tokens + 1), 6) AS log10_ppl_incl_oov,
       round(-SUM(log10_prob_raw) / (SUM(n_tokens + 1) - SUM(oov_count)), 6)
         AS log10_ppl_excl_oov
FROM s
"""

    return {
        "q_score_captions": score,
        "q_score_captions_binary": score,
        "q_score_captions_trie": score,
        "q_score_captions_trie_rt": score,
        "q_score_captions_join": score,
        "q_score_fragments": (
            "SELECT doc_id, log10_prob FROM (" + score + ")"
        ),
        "q_score_stupid_backoff": stupid,
        "q_corpus_ppl": corpus_ppl,
        "q_ppl_by_source": f"""
WITH s AS ({score_raw})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_tokens + 1) AS BIGINT) AS n_scored,
       CAST(SUM(s.oov_count) AS BIGINT) AS n_oov,
       round(-SUM(s.log10_prob_raw) / SUM(s.n_tokens + 1), 6)
         AS log10_ppl_incl_oov,
       round(-SUM(s.log10_prob_raw) / (SUM(s.n_tokens + 1) - SUM(s.oov_count)), 6)
         AS log10_ppl_excl_oov
FROM s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source
""",
        "q_events_sessions": """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       round(SUM(value), 3) AS sum_value,
       MIN(ts) AS session_start
FROM s GROUP BY user_id, session_seq
""",
        "q_events_user_rank": """
SELECT user_id, event_id, round(value, 6) AS value,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
""",
        "q_langid": f"SELECT doc_id, {lang_sql('text')} AS lang_pred FROM documents",
        "q_scrub": f"SELECT doc_id, {scrub_sql('text')} AS scrubbed FROM documents",
        "q_quality_metrics": (
            "SELECT doc_id, "
            f"CAST({qm['n_chars']} AS BIGINT) AS n_chars, "
            f"CAST({qm['n_tokens']} AS BIGINT) AS n_tokens, "
            f"{qm['mean_token_len']} AS mean_token_len, "
            f"{qm['alpha_ratio']} AS alpha_ratio, "
            f"{qm['digit_ratio']} AS digit_ratio, "
            f"{qm['upper_ratio']} AS upper_ratio, "
            f"{qm['has_long_token']} AS has_long_token, "
            f"{qm['distinct_ratio']} AS distinct_ratio "
            "FROM documents"
        ),
        "q_url_filter": (
            lambda: __import__(
                "kenlm_spark.filtering.urls", fromlist=["x"]
            ).domain_blocklist_sql(
                ["site2.example.com", "site5.example.com"],
                table=(
                    "(SELECT doc_id, coalesce(text, '') || ' visit "
                    "http://site' || CAST(doc_id % 7 AS VARCHAR) || "
                    "'.example.com/page now' AS text FROM documents)"
                ),
            )
        )(),
        "q_repetition_metrics": __import__(
            "kenlm_spark.filtering.quality", fromlist=["x"]
        ).repetition_sql_query(),
        "q_quality_filter": (
            f"SELECT doc_id, {quality_pass_sql('text')} AS quality_pass "
            "FROM documents"
        ),
        "q_keep_drop": keep_drop,
        "q_keep_drop_stream": keep_drop,
        "q_keep_drop_join": keep_drop,
        "q_filter_metrics": f"""
WITH kd AS ({keep_drop})
SELECT kd.lang_pred,
       coalesce(kd.drop_reason, 'none') AS drop_reason,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN kd.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN kd.scrubbed <> coalesce(d.text, '')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed
FROM kd JOIN documents d ON d.doc_id = kd.doc_id
GROUP BY 1, 2
""",
        "q_image_quality": (
            lambda iq=__import__(
                "kenlm_spark.filtering.image_quality", fromlist=["x"]
            ): f"""
WITH img AS (
  SELECT {_IMAGE_PAYLOAD_SQL}
  FROM documents
)
SELECT doc_id,
       {iq.image_quality_sql_exprs()["min_dim"]} AS min_dim,
       round({iq.image_quality_sql_exprs()["aspect"]}, 6) AS aspect,
       round({iq.image_quality_sql_exprs()["bytes_per_pixel"]}, 9)
         AS bytes_per_pixel,
       {iq.image_quality_sql_exprs()["fmt_norm"]} AS fmt_norm,
       {iq.image_pass_sql()} AS image_pass
FROM img
"""
        )(),
        "q_dsir_weights": __import__(
            "kenlm_spark.operators.dsir", fromlist=["x"]
        ).dsir_weights_sql(
            "documents", "id % 7 = 0", "id % 7 <> 0", "doc_id", "text"
        ),
        "q_dsir_select": __import__(
            "kenlm_spark.operators.dsir", fromlist=["x"]
        ).dsir_select_sql(
            0.25, 1.0, "documents", "id % 7 = 0", "id % 7 <> 0",
            "doc_id", "text",
        ),
        "q_ccnet_buckets": f"""
WITH s AS ({score_raw}),
b AS (
  SELECT doc_id,
         round(-log10_prob_raw / (n_tokens + 1), 4) AS log10_ppl
  FROM s
)
SELECT doc_id, log10_ppl,
       CASE WHEN log10_ppl <= 15.3 THEN 'head'
            WHEN log10_ppl <= 16.0 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       ({dedup._h60_sql("'ccnet:' || CAST(doc_id AS VARCHAR)")} % 1000000) <
       CASE WHEN log10_ppl <= 15.3 THEN 1000000
            WHEN log10_ppl <= 16.0 THEN 600000
            ELSE 150000 END AS sampled
FROM b
""",
        "q_dedup_phash": (
            lambda mm=__import__(
                "kenlm_spark.operators.multimodal", fromlist=["x"]
            ): f"""
WITH img AS ({_PHASH_COLUMN_SQL.strip()}),
pairs AS ({mm.phash_near_pairs_sql('img', 'doc_id', 'phash').strip()}),
dropped AS (SELECT DISTINCT id_b FROM pairs)
SELECT doc_id, phash,
       doc_id NOT IN (SELECT id_b FROM dropped) AS keep
FROM img
"""
        )(),
        "q_dedup_semantic": __import__(
            "kenlm_spark.operators.semdedup", fromlist=["x"]
        ).semdedup_sql(tau=0.4, n_cells=16),
        "q_cluster_sample": __import__(
            "kenlm_spark.operators.semdedup", fromlist=["x"]
        ).cluster_balanced_sample_sql(per_cell=10, n_cells=16),
        "q_chunk_documents": __import__(
            "kenlm_spark.operators.chunking", fromlist=["x"]
        ).chunk_documents_sql(max_tokens=12, overlap=4),
        "q_pack_sequences": __import__(
            "kenlm_spark.operators.packing", fromlist=["x"]
        ).pack_sequences_sql(budget_tokens=64, n_groups=8),
        "q_pack_payloads": __import__(
            "kenlm_spark.operators.packing", fromlist=["x"]
        ).pack_payloads_sql(budget_tokens=64, n_groups=8),
        "q_retrieval_recall": __import__(
            "kenlm_spark.operators.alignment", fromlist=["x"]
        ).retrieval_recall_sql(dim=8, pool_mod=5, k=5),
        "q_aspect_buckets": __import__(
            "kenlm_spark.operators.image_buckets", fromlist=["x"]
        ).assign_aspect_buckets_sql(
            f"SELECT {_IMAGE_PAYLOAD_SQL} FROM documents"
        ),
        "q_domain_rebalance": __import__(
            "kenlm_spark.operators.mixing", fromlist=["x"]
        ).rebalance_by_domain_sql(budget_tokens_per_domain=800),
        "q_alignment_filter": __import__(
            "kenlm_spark.operators.alignment", fromlist=["x"]
        ).alignment_scores_sql(dim=8, threshold=0.1),
        "q_multimodal_curation": (
            lambda iq=__import__(
                "kenlm_spark.filtering.image_quality", fromlist=["x"]
            ), mm=__import__(
                "kenlm_spark.operators.multimodal", fromlist=["x"]
            ): f"""
WITH img AS (
  SELECT {_IMAGE_PAYLOAD_SQL},
         {_PHASH_EXPR_SQL} AS phash,
         {dedup._h60_sql(dedup._norm_sql('text'))} AS _th
  FROM documents
),
sp AS (
  SELECT doc_id, phash, _th, {iq.image_pass_sql()} AS image_pass FROM img
),
pp AS ({mm.phash_near_pairs_sql('img', 'doc_id', 'phash').strip()}),
pdrop AS (SELECT DISTINCT id_b FROM pp),
dups AS ({dedup.exact_duplicates_sql().strip()}),
lab AS (
  SELECT s.doc_id, s.image_pass,
         s.doc_id NOT IN (SELECT id_b FROM pdrop) AS image_canonical,
         s.doc_id = d.keep_id AS caption_canonical
  FROM sp s JOIN dups d ON d.text_hash = s._th
)
SELECT doc_id, image_pass, image_canonical, caption_canonical,
       (image_pass AND image_canonical AND caption_canonical) AS selected,
       CASE WHEN NOT image_pass THEN 'image'
            WHEN NOT image_canonical THEN 'image_dup'
            WHEN NOT caption_canonical THEN 'caption_dup'
            ELSE 'none' END AS drop_reason
FROM lab
"""
        )(),
        "q_curation_full": _curation_full_oracle_sql(),
        "q_corpus_curation": f"""
WITH kd AS ({keep_drop}),
th AS (
  SELECT doc_id,
         {dedup._h60_sql(dedup._norm_sql('text'))} AS h
  FROM documents
),

dups AS (SELECT h, MIN(doc_id) AS keep_id FROM th GROUP BY h),
canon AS (
  SELECT t.doc_id, t.doc_id = d.keep_id AS is_canonical
  FROM th t JOIN dups d ON d.h = t.h
),
ct AS ({dedup.contamination_check_sql(
        corpus_where="1 = 1",
        benchmark_where="doc_id % 97 = 0",
        shingle_k=5,
    )})
SELECT c.doc_id, c.is_canonical, ct.contaminated,
       kd.keep AS quality_keep,
       ((CAST(('0x' || substring(md5('curate:' ||
           CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         % 1000000 + 1000000) % 1000000) < 500000 AS in_sample,
       (c.is_canonical AND NOT ct.contaminated AND kd.keep AND
        ((CAST(('0x' || substring(md5('curate:' ||
            CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % 1000000 + 1000000) % 1000000) < 500000) AS selected
FROM canon c
JOIN ct ON ct.doc_id = c.doc_id
JOIN kd ON kd.doc_id = c.doc_id
""",
        "q_ngram_count_2": ngram_counts_sql("text", "documents", n=2, pad=True),
        "q_ngram_count_3": ngram_counts_sql("text", "documents", n=3, pad=True),
        "q_word_freq": (
            f"SELECT t.word, CAST(count(*) AS BIGINT) AS cnt FROM "
            f"(SELECT unnest({toks}) AS word FROM documents) t GROUP BY t.word"
        ),
        "q_lm_windows_3": est_sql.windows_sql("documents", "text", 3),
        "q_lm_adjusted_2": est_sql.adjusted_sql("documents", "text", 3, level=2),
        "q_lm_adjusted_1": est_sql.adjusted_sql("documents", "text", 3, level=1),
        "q_lm_model_3": est_sql.model_sql("documents", "text", 3),
        "q_lm_model_pruned": est_sql.model_sql(
            "documents", "text", 3, prune_thresholds={2: 1, 3: 1}
        ),
        "q_dedup_exact": dedup.exact_duplicates_sql(),
        "q_dedup_passages": dedup.passage_dedup_sql(window=10),
        "q_contamination_stream": dedup.contamination_check_sql(
            corpus_where="doc_id % 97 <> 0",
            benchmark_where="doc_id % 97 = 0",
            shingle_k=5,
        ),
        "q_contamination": dedup.contamination_check_sql(
            corpus_where="doc_id % 97 <> 0",
            benchmark_where="doc_id % 97 = 0",
            shingle_k=5,
        ),
        "q_dedup_exact_stream": (
            "SELECT DISTINCT CAST(('0x' || substring(md5("
            "regexp_replace(lower(coalesce(text, '')), '[\\x00\\t\\n\\r ]+', ' ', 'g')"
            "), 1, 15)) AS BIGINT) AS text_hash FROM documents"
        ),
        "q_events_user_stats_stream": (
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
            "round(sum(value), 3) AS sum_value FROM events GROUP BY user_id"
        ),
        "q_dedup_minhash": dedup.minhash_lsh_pairs_sql(jaccard_threshold=0.5),
        "q_sample_stratified": (
            lambda: (
                lambda langs, ss: ss(
                    "lang", {"en": 0.3, "und": 1.0}, default_fraction=0.8,
                    table=f"(SELECT doc_id, {langs} AS lang FROM documents)",
                ).replace("SELECT *", "SELECT doc_id, lang")
            )(
                __import__(
                    "kenlm_spark.filtering.langid", fromlist=["x"]
                ).lang_sql("text"),
                __import__(
                    "kenlm_spark.operators.dedup", fromlist=["x"]
                ).stratified_sample_sql,
            )
        )(),
        "q_dedup_components": dedup.dedup_components_sql(
            dedup.minhash_lsh_pairs_sql(jaccard_threshold=0.5)
        ),
        "q_dedup_canonical": dedup.dedup_canonical_sql(
            dedup.minhash_lsh_pairs_sql(jaccard_threshold=0.5)
        ),
        "q_dedup_jaccard": dedup.jaccard_pairs_sql(
            table="(SELECT * FROM documents ORDER BY doc_id LIMIT 1000)",
            jaccard_threshold=0.5,
        ),
        "q_dedup_simhash": dedup.simhash_sql(),
        "q_dedup_simhash_pairs": dedup.simhash_near_pairs_sql(),
        "q_fingerprint_winnow": _fingerprint_sql(),
        "q_similarity_topk": sim.brute_force_topk_sql(list(range(8)), k=10),
        "q_filter_vocab_single": f"""
WITH {_ng_cte()},
w AS (SELECT ord, gram, unnest(string_split(gram, ' ')) AS word FROM ng),
v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents),
miss AS (
  SELECT DISTINCT ord, gram FROM w
  WHERE NOT regexp_matches(word, '^<.*>$')
    AND word NOT IN (SELECT word FROM v)
)
SELECT n.ord, n.gram FROM ng n
LEFT JOIN miss m ON m.ord = n.ord AND m.gram = n.gram
WHERE m.gram IS NULL
""",
        "q_filter_vocab_union": f"""
WITH {_ng_cte()},
posting AS (SELECT DISTINCT doc_id AS sent_id,
                   unnest({toks}) AS word FROM documents),
cw AS (SELECT DISTINCT ord, gram, word
       FROM (SELECT ord, gram, unnest(string_split(gram, ' ')) AS word FROM ng)
       WHERE NOT regexp_matches(word, '^<.*>$')),
nw AS (SELECT ord, gram, count(*) AS n FROM cw GROUP BY ord, gram),
hits AS (
  SELECT c.ord, c.gram, p.sent_id, count(DISTINCT c.word) AS h
  FROM cw c JOIN posting p USING (word) GROUP BY c.ord, c.gram, p.sent_id
),
qual AS (
  SELECT DISTINCT h.ord, h.gram
  FROM hits h JOIN nw USING (ord, gram) WHERE h.h = nw.n
),
tagonly AS (
  SELECT n.ord, n.gram FROM ng n LEFT JOIN nw USING (ord, gram)
  WHERE nw.n IS NULL
)
SELECT ord, gram FROM qual UNION ALL SELECT ord, gram FROM tagonly
""",
        "q_filter_vocab_multiple": f"""
WITH {_ng_cte()},
posting AS (SELECT DISTINCT doc_id AS sent_id,
                   unnest({toks}) AS word FROM documents),
cw AS (SELECT DISTINCT ord, gram, word
       FROM (SELECT ord, gram, unnest(string_split(gram, ' ')) AS word FROM ng)
       WHERE NOT regexp_matches(word, '^<.*>$')),
nw AS (SELECT ord, gram, count(*) AS n FROM cw GROUP BY ord, gram),
hits AS (
  SELECT c.ord, c.gram, p.sent_id, count(DISTINCT c.word) AS h
  FROM cw c JOIN posting p USING (word) GROUP BY c.ord, c.gram, p.sent_id
),
qual AS (
  SELECT h.ord, h.gram, h.sent_id
  FROM hits h JOIN nw USING (ord, gram) WHERE h.h = nw.n
),
tagonly AS (
  SELECT n.ord, n.gram, s.sent_id
  FROM ng n LEFT JOIN nw USING (ord, gram)
  CROSS JOIN (SELECT DISTINCT sent_id FROM posting) s
  WHERE nw.n IS NULL
)
SELECT ord, gram, sent_id FROM qual
UNION ALL SELECT ord, gram, sent_id FROM tagonly
""",
        "q_filter_counts": _filter_counts_sql(),
        "q_filter_phrase": _filter_phrase_sql(),
        "q_quantize_model": quantize_model_sql(ngram_values_cte(ARPA_PATH), bits=4),
        "q_interpolate_models": interpolate_models_sql(
            ngram_values_cte(ARPA_PATH),
            ngram_values_cte(os.path.join(REPO, "tests", "fixtures", "test_nounk.arpa")),
            0.6,
            0.4,
            order=5,
        ),
        "q_interpolate_tuned": interpolate_models_sql(
            ngram_values_cte(os.path.join(REPO, "tests", "fixtures", "tune_a.arpa")),
            ngram_values_cte(os.path.join(REPO, "tests", "fixtures", "tune_b.arpa")),
            _tuned_weights()[0],
            _tuned_weights()[1],
            order=3,
        ),
        "q_dedup_embedding": sim.embedding_near_dups_sql(
            threshold=0.4, use_lsh=True, n_planes=8
        ),
        "q_similarity_lsh": sim.lsh_bucket_topk_sql(list(range(8)), k=10),
        "q_similarity_ivf": _ivf_sql(),
        "q_similarity_ivf_pq": _ivf_pq_sql(),
        "q_lang_agreement": (
            f"SELECT lang, {lang_sql('text')} AS lang_pred, "
            "CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2"
        ),
        "q_langid_nb": _langid_nb_sql(),
        "q_parts_supplier_revenue": """
SELECT p.p_brand, n.n_name,
       round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY p.p_brand, n.n_name
""",
        "q_token_stats": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text, ''), '[^\x00\t\n\r ]+')) AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(coalesce(text, ''),
         '[A-Za-z]+|[0-9]|[^A-Za-z0-9\x00\t\n\r ]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
""",
        "q_multimodal_frames": """
WITH v AS (
  SELECT CAST(doc_id AS VARCHAR) AS video_id,
         upper(md5(text) || md5(text) || md5(text) || md5(text)) AS bh
  FROM documents
),
f AS (SELECT video_id, unnest([0, 3, 6]) AS frame_idx, bh FROM v)
SELECT video_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       false AS decoded_real,
       substring(bh, frame_idx * 16 + 1, 16) AS frame_hex
FROM f
""",
        "q_audio_features": """
WITH h AS (SELECT doc_id AS id, repeat(md5(text), 8) AS hx FROM documents),
samples AS (
  SELECT id, i,
         CAST(('0x' || substr(hx, 4*i+3, 2) || substr(hx, 4*i+1, 2)) AS BIGINT) AS raw
  FROM h, generate_series(0, 63) AS t(i)
),
signed AS (
  SELECT id, i, CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
  FROM samples
),
win AS (
  SELECT id, i // 16 AS win_idx, i % 16 AS j, v,
         lag(v) OVER (PARTITION BY id, i // 16 ORDER BY i) AS pv
  FROM signed
)
SELECT id, win_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(sqrt(sum(v*v) / count(*)), 3) AS rms,
       CAST(sum(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_cross
FROM win GROUP BY id, win_idx
""",
        "q_multimodal_meta": """
SELECT doc_id,
       CAST(octet_length(unhex(md5(text))) AS BIGINT) AS n_bytes,
       CAST(('0x' || substring(md5(text), 1, 2)) AS BIGINT) AS first_byte
FROM documents
""",
        "q_tpch_q1": """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(AVG(l_quantity), 6) AS avg_qty,
       round(AVG(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "q_orders_customer_revenue": """
SELECT n.n_name,
       round(SUM(o.o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
        "q_events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(SUM(value), 3) AS sum_value
FROM events
GROUP BY 1, 2
""",
    }
