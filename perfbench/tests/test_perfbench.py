"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for workload in gen.GENERATORS:
        a, stats_a = gen.inputs(workload, 7, str(tmp_path / "a"))
        b, stats_b = gen.inputs(workload, 7, str(tmp_path / "b"))
        c, _ = gen.inputs(workload, 8, str(tmp_path / "c"))
        assert stats_a == stats_b
        files = _files(a)
        assert files and files == _files(b)
        assert files != _files(c)


def test_inputs_have_the_promised_shape(tmp_path):
    path, stats = gen.inputs("filter", 3, str(tmp_path))
    # above the scorer's 16,384-keys-per-order probing-index crossover
    assert min(stats[f"model_{n}grams"] for n in (1, 2, 3)) > 16_384
    assert len(os.listdir(os.path.join(path, "images"))) == gen.N_FILES
    assert os.listdir(os.path.join(path, "probe", "lm", "docs"))
    path, stats = gen.inputs("curate", 3, str(tmp_path))
    with open(os.path.join(path, "planted.json")) as fh:
        planted = json.load(fh)
    kinds = {c["kind"] for c in planted["clusters"]}
    assert kinds == {"chain", "clique"} and planted["leaked"]
    assert 0 < stats["chain_share"] < 1
    # the cluster layout, and so the work of a run, is the same for every seed
    other, _ = gen.inputs("curate", 4, str(tmp_path))
    with open(os.path.join(other, "planted.json")) as fh:
        other_planted = json.load(fh)

    def layout(p):
        return [(c["kind"], len(c["ids"])) for c in p["clusters"]]

    assert layout(planted) == layout(other_planted)
    assert planted["clusters"] != other_planted["clusters"]


# ------------------------------------------------------------------ spans

# A canned event-log fragment in Spark 4's JSON shape: one SQL execution
# whose plan declares the two Python-node metrics, one job in group span-1
# with two stages (one skipped), three tasks, and a second job that carries
# no group and is attributed by time.
EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0,
     "sparkPlanInfo": {"nodeName": "WriteFiles", "metrics": [], "children": [
         {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
             {"name": "time to run Python workers", "accumulatorId": 11,
              "metricType": "timing"},
             {"name": "data sent to Python workers", "accumulatorId": 12,
              "metricType": "size"}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_100,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Accumulables": [{"ID": 11, "Update": "300"},
                                    {"ID": 12, "Update": "4096"}]},
     "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 300_000_000,
                      "JVM GC Time": 10,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
                      "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                               "Local Bytes Read": 50,
                                               "Fetch Wait Time": 2},
                      "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
                      "Output Metrics": {"Bytes Written": 500}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Accumulables": [{"ID": 11, "Update": "100"}]},
     "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 100_000_000,
                      "JVM GC Time": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_700},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_800,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
     "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 50_000_000}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_900},
]


def _tracer() -> spans.Tracer:
    t = spans.Tracer()
    t.spans = [
        {"id": 0, "name": "iteration", "parent": None, "start": 1000.0, "end": 1001.0},
        {"id": 1, "name": "pipeline.commit", "parent": 0, "start": 1000.05, "end": 1000.75},
        {"id": 2, "name": "pipeline.check", "parent": 0, "start": 1000.75, "end": 1000.95},
    ]
    return t


def test_parser_reads_a_canned_event_log_fragment():
    log = spans.parse_event_log(json.dumps(e) + "\n" for e in EVENTS)
    assert log["jobs"][0, 0] == {"submit": 1_000_100, "end": 1_000_700,
                                 "group": "span-1", "stage_ids": [(0, 0), (0, 1)]}
    st = log["stages"][0, 1]
    assert st["tasks"] == 2 and st["run_ms"] == 600 and st["gc_ms"] == 10
    assert st["shuffle_write"] == 1000
    assert st["spill"] == 10 and st["output"] == 500
    assert st["py_worker_ms"] == 400 and st["py_bytes"] == 4096
    assert (0, 0) not in log["stages"]  # a skipped stage runs no task

    t = _tracer()
    folded = spans.fold(t, log, cores=4)
    commit, check, root = folded[1], folded[2], folded[0]
    assert commit["jobs"] == 1 and commit["stages"] == 1 and commit["tasks"] == 2
    assert abs(commit["driver_gap_s"] - 0.1) < 1e-9  # 0.7 s wall, 0.6 s of job
    assert commit["python_worker_s"] == 0.4 and commit["arrow_bytes_to_python"] == 4096
    assert check["jobs"] == 1  # no group: attributed by submission time
    assert root["jobs"] == 2 and root["tasks"] == 3
    assert abs(root["core_util"] - 0.7 / 4) < 1e-9

    r = spans.reconcile(t, folded, 0)
    parts = sum(s["wall_s"] for s in r["spans"].values()) + r["unspanned_s"]
    assert abs(parts - r["wall_s"]) < 1e-9
    for s in r["spans"].values():
        assert abs(s["job_s"] + s["driver_gap_s"] - s["wall_s"]) < 1e-9


def test_rolling_event_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_10_local-1").write_text("c\n")
    (d / "events_2_local-1").write_text("b\n")
    (d / "appstatus_local-1").write_text("")
    (tmp_path / "local-2").write_text("a\n")
    assert spans.event_log_lines(str(tmp_path)) == ["b\n", "c\n", "a\n"]


def test_ids_of_each_application_are_kept_apart():
    # two SparkContexts in one log directory both number from job and
    # stage 0; neither overwrites the other
    app = {"Event": "SparkListenerApplicationStart"}
    log = spans.parse_event_log(json.dumps(e) + "\n" for e in [app] + EVENTS + [app] + EVENTS)
    assert set(log["jobs"]) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert log["jobs"][1, 0]["stage_ids"] == [(1, 0), (1, 1)]
    assert log["stages"][1, 1]["py_worker_ms"] == 400


# ---------------------------------------------------------------- metrics


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metrics_are_exactly_the_declared_ones():
    b = _declared()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_every_layer_is_measured_on_some_workload():
    # the workloads, with the parts their traced runs probe, give every
    # declared module metric; run_traced adds the session.*, spark.*,
    # jvm.* and trace.* ones and the kernel probe's rate
    span = {"wall_s": 1.0, "jobs": 1, "stages": 1, "driver_gap_s": 0.1,
            "shuffle_write_bytes": 1, "spill_bytes": 0, "bytes_written": 1,
            "python_worker_s": 0.5, "arrow_bytes_to_python": 1}
    fake = defaultdict(lambda: span)
    stats = {"rows": 1, "probe_lm_rows": 1}
    got = {k for k in run.PER_LAYER
           if k.split(".")[0] in ("session", "spark", "jvm", "trace")}
    got.add("ngram.kernel_tokens_per_s")
    for cls in workloads.WORKLOADS.values():
        wl = cls("/inputs/x", stats, "/work")
        for part in wl.cross_parts() + [wl]:
            got |= set(part.layer_metrics(fake))
    assert got == set(run.PER_LAYER)


def test_cache_key_follows_the_generator(monkeypatch, tmp_path):
    a, _ = gen.inputs("curate", 1, str(tmp_path))
    monkeypatch.setitem(gen.SIZES, "dedup", gen.SIZES["dedup"] // 2)
    b, stats = gen.inputs("curate", 1, str(tmp_path))
    assert a != b and stats["rows"] == gen.SIZES["dedup"]


def test_union_find_components():
    comp = checks.components([(5, 9), (9, 2), (7, 8)])
    assert comp == {5: 2, 9: 2, 2: 2, 7: 7, 8: 7}


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "filter", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0 and res.stdout == ""
