"""N -> 4N executor scaling harness (north-rule evidence: >= 0.8).

One workload per run, measured on one shared session path:

* strong: the job at ``local-cluster[N,c,m]`` vs ``[4N,c,m]`` on the
  same input; the result count must be identical at both sizes;
* weak: N executors on a structure-preserving quarter of the input vs
  4N on the whole. Quarter q keeps the rows whose PRE-replication id is
  q mod 4, so replica groups and dup clusters keep their shape;
* ceiling: the weak run (quarter 0, machine otherwise idle) vs four
  independent N-executor sessions on quarters 0-3 at once, which share
  nothing but the machine; eff_vs_ceiling = strong / ceiling.

Executors are separate JVMs with the package shipped as a zip via
``addPyFile`` (the programmatic ``spark-submit --py-files``). Each
session runs one task probe that reports whether the compiled scorer and
md5 kernels loaded there, so the JSON says which code path was timed.
The executor shape is derived from the host, never oversubscribed:
``c = cpus // 4N`` and ``m = min(4096, MemTotal_MiB // 2 // 4N)``.

Usage: python scripts/bench_scaling.py --workload W [--executors N] [--scale S]

Prints one JSON line and replaces the workload's ``## Scaling (this
host): <workload>`` section of BENCH/BASELINE.md. Inputs are built from
the documents table under ``$SPARK_GRAFT_SF_DIR`` and cached in /tmp.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import textwrap
import time
import zipfile
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kenlm_spark.session import _cpus, _mem_total_kib  # noqa: E402

TARGET = 0.8
REPEATS = 3
BASELINE = os.path.join(REPO, "BENCH", "BASELINE.md")


@dataclass(frozen=True)
class Workload:
    """``materialize`` builds ``out`` from ``SCALE``, ``QUARTER`` (None
    or 0-3) and ``docs()``; ``job`` defines ``job()`` over ``INPUT`` that
    returns a deterministic result count."""

    materialize: str
    job: str
    scale: int


_FILTER_INPUT = """
d = docs()
out = d.select(
    F.concat(F.col("doc_id").cast("string"), F.lit("_"),
             F.col("rep").cast("string")).alias("image_id"),
    F.lit(None).cast("binary").alias("bytes"),
    F.lit(8).alias("w"), F.lit(8).alias("h"), F.lit("raw").alias("fmt"),
    F.col("text").alias("caption"),
    F.col("doc_id").alias("phash"),
)
"""

_FILTER_JOB = """
import __spark_entry__ as em
from kenlm_spark.pipeline import FilterConfig, QualityFilterPipeline
images = spark.read.parquet(INPUT)
pipe = QualityFilterPipeline(spark, em._model(), FilterConfig({mode}))

def job():  # kept captions (none of sf0.1's under the test model), observed on the write
    out, obs = pipe.run_observed(images)
    out.write.format("noop").mode("overwrite").save()
    return obs.get["n_keep"]
"""

WORKLOADS = {
    # map-only quality filter with the broadcast n-gram scorer
    "filter": Workload(_FILTER_INPUT, _FILTER_JOB.format(mode=""), 100),
    # the same pipeline with the model as a joined table (no broadcast)
    "join": Workload(
        _FILTER_INPUT, _FILTER_JOB.format(mode='scorer_mode="join"'), 100
    ),
    # MinHash+LSH pairs; replicas are near-duplicates (perturbed tail),
    # and at the default scale the groups of 48 exceed max_bucket=20,
    # so the boilerplate guard is active as in production
    "dedup": Workload(
        """
d = docs()
out = d.select(
    (F.col("doc_id") * SCALE + F.col("rep")).alias("doc_id"),
    F.concat(F.col("text"), F.lit(" rep"), F.col("rep").cast("string")).alias("text"),
)
""",
        """
from kenlm_spark.operators.dedup import minhash_lsh_pairs
docs = spark.read.parquet(INPUT)

def job():  # candidate pairs that verify
    return minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket=20).count()
""",
        48,
    ),
    # clusters of 5 phashes within pairwise Hamming <= 2 of a 60-bit md5
    # base; SCALE is the row count and a cluster is the pre-replication id
    "phash": Workload(
        """
rows = spark.range(SCALE)
cluster = (F.col("id") / 5).cast("long")
if QUARTER is not None:
    rows = rows.filter(cluster % 4 == QUARTER)
base = F.conv(F.substring(F.md5(cluster.cast("string")), 1, 15), 16, 10).cast("long")
flip = F.when(F.col("id") % 5 == 0, F.lit(0).cast("long")).otherwise(F.expr(
    "shiftleft(CAST(1 AS BIGINT), CAST((CAST(id/5 AS BIGINT) + (id % 5) * 13) % 60 AS INT))"))
out = rows.repartition(64).select(
    F.col("id").alias("doc_id"), base.bitwiseXOR(flip).alias("phash"))
""",
        """
from kenlm_spark.operators.multimodal import phash_dedup_labels
df = spark.read.parquet(INPUT)

def job():  # dropped images
    # max_hamming=2 is the production 64-bit pHash threshold (its ~21-bit
    # bands stay selective at scale); 80% of rows drop, so the dropped-id
    # set is corpus-scale and is joined, not broadcast
    labels = phash_dedup_labels(df, "doc_id", "phash", max_hamming=2,
                                broadcast_drops=False)
    return labels.filter(~F.col("keep")).count()
""",
        2_000_000,
    ),
    # tokenize + one hash exchange by group + in-group running-sum window;
    # n_groups is a job constant so only the executor count changes
    "packing": Workload(
        """
d = docs()
out = d.select((F.col("doc_id") * SCALE + F.col("rep")).alias("doc_id"), "text")
""",
        """
from kenlm_spark.operators.packing import pack_sequences
docs = spark.read.parquet(INPUT)

def job():  # packed docs; the sum/max keep the window from being pruned
    return pack_sequences(docs, budget_tokens=1024, n_groups=256).agg(
        F.sum("seq_id"), F.max("seq_offset"), F.count(F.lit(1)).alias("n")
    ).collect()[0]["n"]
""",
        400,
    ),
    # the five-stage multimodal curation with md5-fake encoders; ~1% of
    # rows share one caption, and phash dup groups keep doc_id mod 4
    # (52 = 13 x 4) so a quarter holds whole groups
    "curation": Workload(
        """
from kenlm_spark.operators.dedup import h60, norm_text
d = docs()
uid = F.col("doc_id") * SCALE + F.col("rep")
out = d.select(
    uid.cast("string").alias("image_id"),
    F.when(uid % 100 == 0, F.lit("a shared duplicate caption"))
     .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("rep").cast("string")))
     .alias("caption"),
    uid.cast("string").alias("img_key"),
    F.conv(F.substring(F.md5((uid % (52 * SCALE)).cast("string")), 1, 15),
           16, 10).cast("long").alias("phash"),
    F.lit(True).alias("image_pass"),
).withColumn("caption_hash", h60(norm_text("caption")))
""",
        """
from kenlm_spark.operators.alignment import fake_image_encoder, fake_text_encoder
from kenlm_spark.operators.curation import curate_multimodal_full, train_pair_centroids
pairs = spark.read.parquet(INPUT)
# ~122 pairs per SemDeDup cell (2048 cells at the default scale), so a
# quarter input gets n_cells/4. The quantizer is trained outside the
# timed region: production trains it once and reuses it (centroids=).
cent = train_pair_centroids(
    pairs, fake_image_encoder(8), id_col="image_id", image_key_col="img_key",
    n_cells=max(1, pairs.count() // 122), iters=2, sample=16384, sample_frac=1.0)

def job():  # selected pairs
    out = curate_multimodal_full(
        pairs, fake_text_encoder(8), fake_image_encoder(8),
        id_col="image_id", caption_col="caption", image_key_col="img_key",
        align_threshold=0.1, tau=0.95, max_cell=5000, centroids=cent)
    return out.agg(F.sum(F.col("selected").cast("long"))).collect()[0][0]
""",
        50,
    ),
}

_GEN = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from kenlm_spark.session import get_spark
spark = get_spark("scaling-gen")
spark.sparkContext.setLogLevel("ERROR")
SF, SCALE = {sf!r}, {scale}

def docs():
    d = spark.read.parquet(SF + "/documents.parquet")
    if QUARTER is not None:
        d = d.filter(F.col("doc_id") % 4 == QUARTER)
    return d.repartition(64).withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(SCALE - 1))))

for QUARTER, path in {todo!r}:
{body}
    out.write.mode("overwrite").parquet(path)
spark.stop()
"""

_SESSION = """
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.appName("scaling-{name}")
         .master("local-cluster[{n},{cores},{mem}]")
         .config("spark.sql.shuffle.partitions", "{parts}")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.files.maxPartitionBytes", "4m")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile({zip_path!r})

def probe(_):
    from kenlm_spark.functions import md5_kernel
    from kenlm_spark.ngram import native_kernel
    return [native_kernel.load() is not None, md5_kernel.load() is not None]

native = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
INPUT = {path!r}
{job}
rows = spark.read.parquet(INPUT).count()
result = job()  # warm-up
walls = []
for _ in range({repeats}):
    t0 = time.perf_counter()
    if job() != result:
        raise SystemExit("result count changed between runs")
    walls.append(round(time.perf_counter() - t0, 3))
print(json.dumps({{"rows": rows, "result": result, "walls": walls, "native": native}}))
spark.stop()
"""


def make_pyfiles_zip(path: str = "/tmp/kenlm_spark_pyfiles.zip") -> str:
    """Package kenlm_spark as a --py-files zip (what spark-submit would
    ship): the modules plus the C sources the native kernels compile."""
    with zipfile.ZipFile(path, "w") as zf:
        for root, _, files in os.walk(os.path.join(REPO, "kenlm_spark")):
            for f in files:
                if f.endswith((".py", ".c")):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def materialize(name: str, scale: int, sf_dir: str) -> list[str]:
    """Write the workload's input and its four quarters once (cached by
    the snippet, the source and the scale); returns [full, q0..q3]."""
    snippet = WORKLOADS[name].materialize
    key = hashlib.sha256((snippet + sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"scaling_{key}_x{scale}")
    paths = [(None, base)] + [(q, f"{base}_q{q}") for q in range(4)]
    todo = [(q, p) for q, p in paths
            if not os.path.exists(os.path.join(p, "_SUCCESS"))]
    if todo:
        code = _GEN.format(repo=REPO, sf=sf_dir, scale=scale, todo=todo,
                           body=textwrap.indent(snippet, "    "))
        subprocess.run([sys.executable, "-c", code], check=True,
                       timeout=3600, capture_output=True, text=True)
    return [p for _, p in paths]


def materialize_input(replication: int, sf_dir: str) -> str:
    """The filter workload's replicated caption table."""
    return materialize("filter", replication, sf_dir)[0]


def executor_shape(n: int, cpus: int, mem_kib: int | None) -> tuple[int, int]:
    """(cores, MiB) per executor so that 4N executors fit the host."""
    if n < 1 or 4 * n > cpus:
        raise ValueError(f"4N = {4 * n} executors need {4 * n} cores; "
                         f"this host offers {cpus}")
    mem = 4096 if mem_kib is None else min(4096, mem_kib // 1024 // 2 // (4 * n))
    return cpus // (4 * n), mem


def run_sessions(name: str, n: int, shape: tuple[int, int],
                 paths: list[str], zip_path: str) -> list[dict]:
    """One N-executor session per input path, all started at once."""
    cores, mem = shape
    sessions = []
    for path in paths:
        code = _SESSION.format(
            repo=REPO, name=name, n=n, cores=cores, mem=mem,
            parts=n * cores * 2, zip_path=zip_path, path=path,
            job=WORKLOADS[name].job, repeats=REPEATS,
        )
        # Spark logs to a file, not a pipe: a full pipe would stall one
        # session while another is being waited on
        err = tempfile.TemporaryFile("w+")
        sessions.append((subprocess.Popen(
            [sys.executable, "-c", code], text=True,
            stdout=subprocess.PIPE, stderr=err), err))
    results = []
    for proc, err in sessions:
        try:
            out, _ = proc.communicate(timeout=7200)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
        with err:
            err.seek(0)
            log = err.read()
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"session failed ({proc.returncode}): {log[-3000:]}")
        results.append(json.loads(lines[-1]))
    return results


def efficiencies(n_wall: float, n4_wall: float, weak_wall: float,
                 concurrent_walls: list[float]) -> dict:
    """Strong = throughput ratio / 4 on the same input; weak = quarter
    at N vs whole at 4N (ideal: equal walls); ceiling = quarter 0 alone
    vs the slowest of four concurrent quarters."""
    strong = n_wall / n4_wall / 4
    ceiling = weak_wall / max(concurrent_walls)
    return {
        "strong": round(strong, 3),
        "weak": round(weak_wall / n4_wall, 3),
        "ceiling": round(ceiling, 3),
        "eff_vs_ceiling": round(strong / ceiling, 3),
    }


def replace_section(text: str, name: str, body: str) -> str:
    """``text`` with its one ``## Scaling (this host): <name>`` section
    replaced by ``body`` (appended when absent); the rest is untouched."""
    head = f"## Scaling (this host): {name}\n"
    start = text.find(head)
    if start == -1:
        return text.rstrip("\n") + "\n\n" + head + body
    end = text.find("\n## ", start + len(head))
    return text[:start] + head + body + (text[end:] if end != -1 else "")


def section(res: dict, runs: dict) -> str:
    n, n4 = res["executors"]
    c, m = res["cores_per_executor"], res["executor_mem_mib"]
    scale_note = (
        "Default scale." if res["scale"] == res["default_scale"]
        else f"Reduced scale (default {res['default_scale']}): smoke "
        "evidence, not north-rule evidence."
    )
    table = "\n".join(
        f"| {label} | {r['rows']} | {r['result']} | "
        f"{', '.join(map(str, r['walls']))} | {min(r['walls'])} |"
        for label, r in [(f"N = {n}", runs["n"]), (f"4N = {n4}", runs["n4"]),
                         ("weak: N on quarter 0", runs["weak"])]
        + [(f"ceiling: N on quarter {q}, 4 at once", r)
           for q, r in enumerate(runs["concurrent"])]
    )
    return f"""
`python scripts/bench_scaling.py --workload {res['workload']} --executors {n}
--scale {res['scale']}` on {res['date']}, {res['host_cpus']}-core host:
`local-cluster[{n},{c},{m}]` vs `[{n4},{c},{m}]`; compiled kernels
(score, md5) loaded on every executor: {res['native_kernels']}.
{scale_note}

| run (executors) | rows | result | walls (s) | best (s) |
|---|---|---|---|---|
{table}

Strong {res['strong']}, weak {res['weak']}, ceiling {res['ceiling']},
strong / ceiling {res['eff_vs_ceiling']} (target >= {TARGET}).
"""


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--executors", type=int, default=1)
    ap.add_argument("--scale", type=int)
    args = ap.parse_args(argv)
    name, n = args.workload, args.executors
    scale = args.scale or WORKLOADS[name].scale
    cpus = _cpus()
    try:
        shape = executor_shape(n, cpus, _mem_total_kib())
    except ValueError as e:
        sys.exit(str(e))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    zip_path = make_pyfiles_zip()
    full, *quarters = materialize(name, scale, sf_dir)

    runs = {"n": run_sessions(name, n, shape, [full], zip_path)[0],
            "n4": run_sessions(name, 4 * n, shape, [full], zip_path)[0]}
    if runs["n"]["result"] != runs["n4"]["result"]:
        sys.exit(f"N and 4N results differ: {runs['n']['result']} vs "
                 f"{runs['n4']['result']}")
    runs["weak"] = run_sessions(name, n, shape, quarters[:1], zip_path)[0]
    runs["concurrent"] = run_sessions(name, n, shape, quarters, zip_path)
    best = {k: min(v["walls"]) for k, v in runs.items() if k != "concurrent"}

    every = [runs["n"], runs["n4"], runs["weak"], *runs["concurrent"]]
    res = {
        "workload": name,
        "scale": scale,
        "default_scale": WORKLOADS[name].scale,
        "date": time.strftime("%Y-%m-%d"),
        "host_cpus": cpus,
        "executors": [n, 4 * n],
        "cores_per_executor": shape[0],
        "executor_mem_mib": shape[1],
        "native_kernels": [all(r["native"][k] for r in every) for k in (0, 1)],
        "rows": runs["n"]["rows"],
        "result": runs["n"]["result"],
        "walls": {k: v["walls"] for k, v in runs.items() if k != "concurrent"}
        | {"concurrent": [r["walls"] for r in runs["concurrent"]]},
        **efficiencies(best["n"], best["n4"], best["weak"],
                       [min(r["walls"]) for r in runs["concurrent"]]),
        "target": TARGET,
    }
    print(json.dumps(res))
    with open(BASELINE) as fh:
        text = fh.read()
    with open(BASELINE, "w") as fh:
        fh.write(replace_section(text, name, section(res, runs)))


if __name__ == "__main__":
    main()
