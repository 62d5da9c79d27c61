"""The workloads: set-up, one iteration, output check, and (for the
traced run) isolated probes of single layers.

Every call into the program goes through its public API and sits inside a
span named ``<module>.<call>``; a span's job group lets the event log
attribute Spark's work to it (see spans.py). ``iterate`` returns what
``check`` needs; ``check`` runs outside the timed region and raises
``CheckFailed`` when an output differs from the independent expectation
computed in checks.py.
"""

from __future__ import annotations

import json
import os
import shutil

import checks

CAPTION_COLS = ["image_id", "caption", "lang_pred", "lm_log10_prob",
                "lm_perplexity", "lm_oov_count", "quality_pass",
                "scrubbed_caption", "keep", "drop_reason"]


def start_session(tracer, work: str, cores: int, event_log: str | None,
                  extra: dict):
    """A local[cores] session of the program's own factory whose scratch
    files (shuffle, spill, warehouse, JVM temp) stay under ``work``."""
    from kenlm_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra)
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    tracer.attach(None)  # a stopped context takes no job groups
    with tracer.span("session.start"):
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    tracer.attach(spark.sparkContext)
    return spark


def heap_peak_mb(spark) -> float:
    """The JVM's peak used heap since it started: the sum of its heap memory
    pools' peak usage (pools peak at different times, so this bounds the
    true peak from above)."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    used = sum(p.getPeakUsage().getUsed() for p in pools
               if p.getType().name() == "HEAP")
    return used / 2**20


def shutdown_jvm() -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import rss

    procs = rss.descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes (PythonGatewayServer)
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    rss.wait_gone(procs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload over the inputs in ``inputs`` (see gen.py)."""

    name = ""
    #: rows one iteration brings to a checked result
    rows = 0
    #: session settings of this workload's input layout
    session_conf: dict = {}

    def __init__(self, inputs: str, stats: dict, work: str):
        self.inputs = inputs
        self.stats = stats
        self.work = work
        self.spark = None
        # where this workload's outputs go: its own directory under ``work``,
        # apart from those of a workload it is probed inside
        self.out = os.path.join(work, os.path.basename(inputs))

    def setup(self, tracer, cores: int, event_log: str | None = None) -> None:
        self.spark = start_session(tracer, self.work, cores, event_log,
                                   self.session_conf)

    def prepare_checks(self) -> None:
        """Compute the expectations ``check`` compares against (untimed)."""

    def iterate(self, tracer, i: int):
        raise NotImplementedError

    def check(self, out) -> None:
        raise NotImplementedError

    def cleanup(self, out) -> None:
        """Delete an iteration's outputs once checked."""

    def probes(self, tracer) -> dict:
        """Traced-run-only measurements of single layers, outside any
        iteration; returns metrics that are not span totals."""
        return {}

    def layer_metrics(self, spans: dict[str, dict]) -> dict:
        """Per-layer metrics of one traced iteration: ``spans`` maps each
        span name of the iteration (and its probes) to its folded totals."""
        return {}

    def cross_parts(self) -> list["Workload"]:
        """Jobs over the small inputs under ``probe/``, run once in this
        workload's traced run to measure the layers that no workload's own
        job calls."""
        return []

    def cross_probe(self, tracer) -> dict:
        """One checked iteration and the probes, inside another workload's
        session (``self.spark``)."""
        self.prepare_checks()
        out = self.iterate(tracer, 0)
        self.check(out)
        self.cleanup(out)
        return self.probes(tracer)


# ------------------------------------------------------------------ filter


class Filter(Workload):
    """``QualityFilterPipeline.run_observed`` over the image table with the
    broadcast scorer, committed with ``write_snapshot`` — the shape of
    scripts/run_filter_job.py."""

    name = "filter"
    # one scan split per input file (gen.N_FILES = 12): more splits than
    # cores, so the scan's split layout is part of the measured job
    session_conf = {"spark.sql.files.minPartitionNum": "12"}

    def __init__(self, inputs, stats, work):
        super().__init__(inputs, stats, work)
        self.rows = stats["rows"]
        self.images = os.path.join(inputs, "images")
        self.root = os.path.join(self.out, "snapshots")
        self.observed = {"n_rows": 0, "n_keep": 0, "n_drop": 0, "n_scrubbed": 0}

    def setup(self, tracer, cores, event_log=None):
        super().setup(tracer, cores, event_log)
        self.load_model(tracer)

    def load_model(self, tracer):
        from kenlm_spark.ngram.arpa import load_arpa
        from kenlm_spark.pipeline import FilterConfig, QualityFilterPipeline

        with tracer.span("ngram.load_arpa"):
            self.model = load_arpa(os.path.join(self.inputs, "model.arpa"))
        with tracer.span("ngram.broadcast"):
            self.pipe = QualityFilterPipeline(self.spark, self.model, FilterConfig())

    def cross_parts(self):
        lm = os.path.join(self.inputs, "probe", "lm")
        return [LmBuild(lm, {"rows": self.stats["probe_lm_rows"]}, self.work)]

    def prepare_checks(self):
        self.expected = checks.filter_reference(self.images, self.model)
        # build the scorer's native kernel into this checkout's cache now,
        # so the first run in a checkout does not time the compiler
        self.model.score_batch([self.model.map_ids(["a"])])

    def iterate(self, tracer, i):
        with tracer.span("pipeline.plan"):
            images = self.spark.read.parquet(self.images)
            result, obs = self.pipe.run_observed(images)
        with tracer.span("pipeline.commit"):
            sid = self.pipe.write_snapshot(result, self.root, run_id=f"iter{i:04d}")
            totals = obs.get
        return sid, totals

    def check(self, out):
        sid, totals = out
        checks.check_filter_snapshot(
            os.path.join(self.root, "data", sid), totals, self.rows, self.expected
        )
        self.observed = totals

    def cleanup(self, out):
        self.pipe.expire_snapshots(self.root, keep_last=1)

    def probes(self, tracer):
        from pyspark.sql import functions as F

        from kenlm_spark.filtering.langid import lang_expr
        from kenlm_spark.filtering.quality import quality_metric_exprs, quality_pass_expr
        from kenlm_spark.filtering.scrub import scrub_expr

        images = self.spark.read.parquet(self.images)
        layers = {
            "filtering.lang": lang_expr(F.col("caption")),
            "filtering.quality": quality_pass_expr(quality_metric_exprs("caption")),
            "filtering.scrub": scrub_expr("caption"),
        }
        for name, col in layers.items():
            with tracer.span(name):
                noop(images.select(col.alias("x")))
        with tracer.span("ngram.score"):
            noop(self.pipe.scorer.with_scores(images.select("caption"), "caption"))
        return {"ngram.kernel_tokens_per_s": checks.kernel_tokens_per_s(
            self.images, self.model)}

    def layer_metrics(self, spans):
        commit = spans["pipeline.commit"]
        obs = self.observed
        return {
            "ngram.load_arpa_s": spans["ngram.load_arpa"]["wall_s"],
            "ngram.broadcast_s": spans["ngram.broadcast"]["wall_s"],
            "pipeline.plan_s": spans["pipeline.plan"]["wall_s"],
            "pipeline.commit_s": commit["wall_s"],
            "pipeline.bytes_written": commit["bytes_written"],
            "pipeline.observed_rows": obs["n_rows"],
            "pipeline.observed_keep": obs["n_keep"],
            "pipeline.observed_drop": obs["n_drop"],
            "pipeline.observed_scrubbed": obs["n_scrubbed"],
            "ngram.python_worker_s": commit["python_worker_s"],
            "ngram.arrow_bytes_to_python": commit["arrow_bytes_to_python"],
            "ngram.score_s": spans["ngram.score"]["wall_s"],
            "filtering.lang_s": spans["filtering.lang"]["wall_s"],
            "filtering.quality_s": spans["filtering.quality"]["wall_s"],
            "filtering.scrub_s": spans["filtering.scrub"]["wall_s"],
        }


# ----------------------------------------------------------------- lm build


class LmBuild(Workload):
    """The collect-free flagship of ``entry()``: ``estimator.estimate``
    (order 3) → ``export_model_tables`` →
    ``QualityFilterPipeline.from_model_tables`` (join scorer) → ``run`` →
    ``write_snapshot``. Not a workload of its own (see README.md): the
    traced run of ``filter`` measures its layers over ``probe/lm``."""

    def __init__(self, inputs, stats, work):
        super().__init__(inputs, stats, work)
        self.rows = stats["rows"]
        self.docs = os.path.join(inputs, "docs")
        self.root = os.path.join(self.out, "snapshots")
        self.expected = None
        self.n_grams = 0

    def iterate(self, tracer, i):
        from pyspark.sql import functions as F

        from kenlm_spark.estimator import estimate, export_model_tables
        from kenlm_spark.pipeline import FilterConfig, QualityFilterPipeline
        from kenlm_spark.session import ensure_min_partitions

        spark = self.spark
        with tracer.span("estimator.estimate"):
            docs = ensure_min_partitions(spark.read.parquet(self.docs))
            model_df, _ = estimate(docs, "text", order=3)
            model_df = model_df.localCheckpoint(eager=True)
        with tracer.span("estimator.export"):
            tall, vocab = export_model_tables(model_df, 3)
            pipe = QualityFilterPipeline.from_model_tables(
                spark, tall, vocab, 3, FilterConfig())
        with tracer.span("ngram.join_score"):
            images = docs.select(
                F.col("doc_id").cast("string").alias("image_id"),
                F.lit(None).cast("binary").alias("bytes"),
                F.lit(8).alias("w"),
                F.lit(8).alias("h"),
                F.lit("raw").alias("fmt"),
                F.col("text").alias("caption"),
                F.col("doc_id").alias("phash"),
            )
            sid = pipe.write_snapshot(
                pipe.run(images).select(*CAPTION_COLS), self.root, run_id=f"iter{i:04d}")
        return sid, model_df

    def check(self, out):
        sid, model_df = out
        n_grams = model_df.count()
        if self.expected is None:
            # the estimate is deterministic: the first checked iteration's
            # model is every iteration's model (its n-gram count is pinned)
            from kenlm_spark.estimator import to_ngram_model

            self.n_grams = n_grams
            self.expected = checks.lm_reference(self.docs, to_ngram_model(model_df, 3))
        if n_grams != self.n_grams:
            raise checks.CheckFailed(f"model has {n_grams} n-grams, expected {self.n_grams}")
        checks.check_decisions(os.path.join(self.root, "data", sid), self.rows,
                               self.expected)

    def cleanup(self, out):
        from kenlm_spark.pipeline import QualityFilterPipeline

        out[1].unpersist()
        QualityFilterPipeline.expire_snapshots(self.root, keep_last=1)

    def layer_metrics(self, spans):
        est, exp = spans["estimator.estimate"], spans["estimator.export"]
        join = spans["ngram.join_score"]
        return {
            "estimator.estimate_s": est["wall_s"],
            "estimator.export_s": exp["wall_s"],
            "estimator.jobs": est["jobs"] + exp["jobs"],
            "estimator.stages": est["stages"] + exp["stages"],
            "estimator.driver_gap_s": est["driver_gap_s"] + exp["driver_gap_s"],
            "estimator.shuffle_write_bytes":
                est["shuffle_write_bytes"] + exp["shuffle_write_bytes"],
            "estimator.model_ngrams": self.n_grams,
            "ngram.join_score_s": join["wall_s"],
            "ngram.join_jobs": join["jobs"],
            "ngram.join_shuffle_bytes": join["shuffle_write_bytes"],
            "pipeline.bytes_written": join["bytes_written"],
        }


# ------------------------------------------------------------------ curate


DEDUP_SPANS = ["pairs", "components", "canonical", "exact", "contamination"]


class Curate(Workload):
    """Dedup and decontamination: ``minhash_lsh_pairs`` →
    ``dedup_components`` → ``dedup_canonical_drop``, plus
    ``exact_duplicates`` and ``contamination_check`` against the held-out
    slice, each written as parquet."""

    name = "curate"

    def __init__(self, inputs, stats, work):
        super().__init__(inputs, stats, work)
        self.rows = stats["rows"]
        self.docs = os.path.join(inputs, "docs")
        self.heldout = os.path.join(inputs, "heldout")
        self.verified_pairs = 0

    def prepare_checks(self):
        from kenlm_spark.functions.md5_kernel import h60_bytes_batch

        with open(os.path.join(self.inputs, "planted.json")) as fh:
            planted = json.load(fh)
        self.expected = checks.dedup_reference(self.docs, self.heldout, planted)
        h60_bytes_batch([b"a"])  # the md5 kernel's build, as in Filter

    def iterate(self, tracer, i):
        from kenlm_spark.operators.dedup import (
            contamination_check,
            dedup_canonical_drop,
            dedup_components,
            exact_duplicates,
            minhash_lsh_pairs,
        )
        from kenlm_spark.session import checkpoint_disk

        spark = self.spark
        out = os.path.join(self.out, f"iter{i:04d}")
        docs = spark.read.parquet(self.docs)
        with tracer.span("operators.dedup.pairs"):
            pairs = checkpoint_disk(minhash_lsh_pairs(docs))
        with tracer.span("operators.dedup.components"):
            dedup_components(pairs).write.parquet(os.path.join(out, "components"))
        with tracer.span("operators.dedup.canonical"):
            dedup_canonical_drop(docs, pairs).write.parquet(os.path.join(out, "keep"))
        with tracer.span("operators.dedup.exact"):
            exact_duplicates(docs).write.parquet(os.path.join(out, "exact"))
        with tracer.span("operators.dedup.contamination"):
            contamination_check(docs, spark.read.parquet(self.heldout)).write.parquet(
                os.path.join(out, "contamination"))
        return out, pairs

    def check(self, out):
        path, pairs = out
        rows = pairs.collect()
        self.verified_pairs = len(rows)
        checks.check_dedup(path, [(r.id_a, r.id_b, r.jaccard) for r in rows],
                           self.expected)

    def cleanup(self, out):
        path, pairs = out
        pairs.unpersist()
        shutil.rmtree(path, ignore_errors=True)

    def layer_metrics(self, spans):
        d = {s: spans[f"operators.dedup.{s}"] for s in DEDUP_SPANS}
        m = {
            "operators.dedup.verified_pairs": self.verified_pairs,
            "operators.dedup.components_jobs": d["components"]["jobs"],
            "operators.dedup.shuffle_write_bytes":
                sum(x["shuffle_write_bytes"] for x in d.values()),
            "operators.dedup.spill_bytes": sum(x["spill_bytes"] for x in d.values()),
        }
        m.update({f"operators.dedup.{s}_s": d[s]["wall_s"] for s in DEDUP_SPANS})
        return m


WORKLOADS = {w.name: w for w in (Filter, Curate)}
