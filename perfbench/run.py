"""Benchmark driver: one workload, one seed, one result line.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 8 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
(gen.py) and cached under ``.perfbench/cache``; all scratch files stay under
``.perfbench``. The last line of standard output is the JSON result; the
line before it holds the input statistics and run details.

``--trace 0`` measures the end-to-end metrics: set-up time (a fresh JVM to
a session that is ready to run; median of SETUPS set-ups, each in a JVM of
its own), throughput of the iterations that start within ``--seconds`` of
the session being ready (the first one included), and the peak RSS of the
JVM and its Python workers. ``--trace 1`` prints the per-layer metrics
instead, from the same sequence with spans and Spark's event log on, plus
the tracing overhead (see ``run_traced``).
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

#: local[N]: at most 4 cores, never more than the host has.
CORES = min(4, os.cpu_count() or 1)
#: Maximum driver heap of every session the benchmark starts (the program's
#: own default, 16g, is larger than small hosts).
DRIVER_MEM = "2g"
#: Set-ups per untraced run; setup_s is their median.
SETUPS = 2
#: Iterations, at least, of each tracing-overhead phase.
OVERHEAD_ITERATIONS = 2

END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s", "peak_rss_mb": "MB"}

#: Every per-layer metric with its unit. Every traced run measures all of
#: them (see run_traced); a span that a failed iteration or probe never
#: opened reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "ngram.load_arpa_s": "s",
    "ngram.broadcast_s": "s",
    "filtering.lang_s": "s",
    "filtering.quality_s": "s",
    "filtering.scrub_s": "s",
    "ngram.score_s": "s",
    "ngram.python_worker_s": "s",
    "ngram.arrow_bytes_to_python": "bytes",
    "ngram.kernel_tokens_per_s": "tokens/s",
    "pipeline.plan_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.bytes_written": "bytes",
    "pipeline.observed_rows": "count",
    "pipeline.observed_keep": "count",
    "pipeline.observed_drop": "count",
    "pipeline.observed_scrubbed": "count",
    "estimator.estimate_s": "s",
    "estimator.export_s": "s",
    "estimator.jobs": "count",
    "estimator.stages": "count",
    "estimator.driver_gap_s": "s",
    "estimator.shuffle_write_bytes": "bytes",
    "estimator.model_ngrams": "count",
    "ngram.join_score_s": "s",
    "ngram.join_jobs": "count",
    "ngram.join_shuffle_bytes": "bytes",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.components_s": "s",
    "operators.dedup.components_jobs": "count",
    "operators.dedup.canonical_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.contamination_s": "s",
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.dedup.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.python_worker_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "jvm.heap_peak_mb": "MB",
    "trace.iteration_s": "s",
    "trace.unspanned_s": "s",
    "trace.overhead_pct": "%",
}


def _env(base: str) -> None:
    """Keep every scratch file of the session, its JVM and its Python
    workers under ``base`` (they inherit this environment)."""
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(base, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no JVM keeps its perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers import the program from the checkout, whatever
        # their working directory
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })


def _generate(workload: str, seed: int, cache: str) -> tuple[str, dict]:
    """Inputs in a child process, so generation never shows in this
    process's memory."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), cache],
        check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    return res["path"], res["stats"]


class Runner:
    """Timed iterations; counts attempts and failures (an exception or a
    failed output check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.errors: list[str] = []

    def fail(self, exc: Exception) -> None:
        """Count a failure; a failed iteration or probe is not fatal."""
        self.failed += 1
        self.errors.append(f"{type(exc).__name__}: {exc}")
        traceback.print_exc(file=sys.stderr)

    def one(self, wl, tracer, span: str | None = None) -> None:
        i = self.attempted
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            if span is None:
                out = wl.iterate(tracer, i)
            else:
                with tracer.span(span):
                    out = wl.iterate(tracer, i)
            wall = time.perf_counter() - t0
            wl.check(out)
            wl.cleanup(out)
        except Exception as exc:
            self.fail(exc)
            return
        self.walls.append(wall)

    def loop(self, wl, tracer, seconds: float, span: str | None = None,
             least: int = 1) -> None:
        """Timed iterations until ``seconds`` have passed; at least ``least``."""
        deadline = time.monotonic() + seconds
        for _ in range(least):
            self.one(wl, tracer, span)
        while time.monotonic() < deadline:
            self.one(wl, tracer, span)


def run_untraced(wl, seconds: float) -> tuple[dict, dict, Runner]:
    """The peak RSS is that of the JVM and its Python workers (rss.PeakRSS),
    so the expectations and checks this process computes do not count."""
    import rss
    from spans import Tracer
    from workloads import heap_peak_mb, shutdown_jvm

    def setup() -> float:
        t0 = time.perf_counter()
        wl.setup(tracer, CORES)
        return time.perf_counter() - t0

    runner = Runner()
    tracer = Tracer()
    setups = []
    for _ in range(SETUPS - 1):
        setups.append(setup())
        shutdown_jvm()
    with rss.PeakRSS() as peak:
        setups.append(setup())
        wl.prepare_checks()
        runner.loop(wl, tracer, seconds)
        heap = heap_peak_mb(wl.spark)
    shutdown_jvm()
    rate = wl.rows * len(runner.walls) / sum(runner.walls) if runner.walls else 0.0
    metrics = {"rows_per_s": rate, "setup_s": statistics.median(setups),
               "peak_rss_mb": peak.peak_mb}
    details = {"setup_samples_s": setups, "iteration_s": runner.walls,
               "peak_procs": peak.peak_procs, "heap_peak_mb": heap}
    return metrics, details, runner


def run_traced(wl, seconds: float) -> tuple[dict, dict, Runner]:
    """The untraced run's sequence with tracing on: this fresh process's
    set-up spans, then traced iterations for ``seconds``, with job groups
    and the event log on from the start.

    Then the probes: the workload's own layer probes, and one checked
    iteration of each of its ``cross_parts`` (the LM build, whose layers no
    workload's own job calls). Then the tracing overhead: in two new
    SparkContexts of the same (now warm) JVM, at least OVERHEAD_ITERATIONS
    iterations (and ``seconds / 2``) untraced, then traced. The untraced
    phase runs first in a less warm JVM, so the overhead is if anything
    understated by the JVM's warming."""
    from spans import Tracer, event_log_lines, fold, parse_event_log, reconcile
    from workloads import heap_peak_mb, shutdown_jvm

    runner = Runner()
    tracer = Tracer(tag_jobs=True)
    log_dir = os.path.join(wl.work, "eventlog")
    wl.setup(tracer, CORES, event_log=log_dir)
    setup_spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
    wl.prepare_checks()
    runner.loop(wl, tracer, seconds, span="iteration")
    extra = {"jvm.heap_peak_mb": heap_peak_mb(wl.spark)}
    parts = wl.cross_parts()
    runner.attempted += 1
    try:
        extra.update(wl.probes(tracer))
        for part in parts:
            part.spark = wl.spark
            extra.update(part.cross_probe(tracer))
    except Exception as exc:
        runner.fail(exc)
    phases: dict[str, float] = {}
    for phase in ("untraced", "traced"):
        runner.walls.clear()
        wl.spark.stop()
        if phase == "traced":
            wl.setup(tracer, CORES, event_log=log_dir)
            runner.loop(wl, tracer, seconds / 2, span="overhead",
                        least=OVERHEAD_ITERATIONS)
        else:
            wl.setup(Tracer(), CORES)
            runner.loop(wl, Tracer(), seconds / 2, least=OVERHEAD_ITERATIONS)
        if runner.walls:
            phases[phase] = statistics.median(runner.walls)
    shutdown_jvm()
    folded = fold(tracer, parse_event_log(event_log_lines(log_dir)), CORES)

    layer = {k: 0.0 for k in PER_LAYER}
    # a span a failed iteration or probe never opened reads as all zeros
    probe_spans = defaultdict(lambda: defaultdict(float))
    probe_spans.update({folded[s["id"]]["name"]: folded[s["id"]]
                        for s in tracer.spans if s["parent"] is None})
    per_iter, recon = [], []
    for it in (s for s in tracer.spans if s["name"] == "iteration"):
        spans = probe_spans.copy()
        spans.update({folded[c["id"]]["name"]: folded[c["id"]]
                      for c in tracer.children(it["id"])})
        root = folded[it["id"]]
        recon.append(reconcile(tracer, folded, it["id"]))
        m = {}
        for part in parts + [wl]:  # the workload's own spans take precedence
            m.update(part.layer_metrics(spans))
        m.update({
            "spark.jobs": root["jobs"],
            "spark.stages": root["stages"],
            "spark.tasks": root["tasks"],
            "spark.core_util": root["core_util"],
            "spark.gc_s": root["gc_s"],
            "spark.driver_gap_s": root["driver_gap_s"],
            "spark.python_worker_s": root["python_worker_s"],
            "spark.shuffle_write_bytes": root["shuffle_write_bytes"],
            "trace.iteration_s": root["wall_s"],
            "trace.unspanned_s": recon[-1]["unspanned_s"],
        })
        per_iter.append(m)
    for k in per_iter[0] if per_iter else ():
        layer[k] = statistics.median(m[k] for m in per_iter)
    # set-up spans of this fresh process, not those of the restarts
    for k in ("session.start", "ngram.load_arpa", "ngram.broadcast"):
        if k in setup_spans:
            layer[f"{k}_s"] = setup_spans[k]
    layer.update(extra)
    if "traced" in phases and "untraced" in phases:
        layer["trace.overhead_pct"] = 100.0 * (phases["traced"] / phases["untraced"] - 1.0)
    details = {"phase_median_s": phases, "reconcile": recon}
    return layer, details, runner


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for need in ("kenlm_spark/pipeline.py", "tests/oracle_filter.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a checkout of the "
                  "repository", file=sys.stderr)
            return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    _env(base)
    # the program's bytecode, written even under PYTHONDONTWRITEBYTECODE, so
    # neither the driver nor a Python worker compiles it inside a timed region
    compileall.compile_dir(os.path.join(ROOT, "kenlm_spark"), quiet=1)
    os.makedirs(work)
    try:
        inputs, stats = _generate(args.workload, args.seed, os.path.join(base, "cache"))
        wl = WORKLOADS[args.workload](inputs, stats, work)
        run = run_traced if args.trace else run_untraced
        values, details, runner = run(wl, args.seconds)
    finally:
        from workloads import shutdown_jvm

        shutdown_jvm()  # no-op unless a failure left the JVM running
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    details.update(workload=args.workload, seed=args.seed, cores=CORES,
                   driver_memory=DRIVER_MEM, inputs=stats,
                   failed_ratio=runner.failed / runner.attempted,
                   errors=runner.errors[:5])
    print(json.dumps(details))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
