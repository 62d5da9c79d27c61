"""The scaling harness's pure parts (scripts/bench_scaling.py): executor
shape, efficiency arithmetic and BASELINE.md section replacement. No
Spark cluster is started."""

from __future__ import annotations

import importlib
import pathlib
import sys

import pytest

SCRIPTS = pathlib.Path(__file__).parent.parent / "scripts"
sys.path.insert(0, str(SCRIPTS))

import bench_scaling as bs  # noqa: E402

GIB_16 = 16 << 20  # KiB


@pytest.mark.parametrize(
    "cpus, n, mem_kib, shape",
    [
        (4, 1, GIB_16, (1, 2048)),
        (16, 1, GIB_16, (4, 2048)),
        (16, 2, GIB_16, (2, 1024)),
        (4, 1, 256 << 20, (1, 4096)),  # capped at 4g
        (4, 1, None, (1, 4096)),  # MemTotal unreadable
    ],
)
def test_executor_shape(cpus, n, mem_kib, shape):
    assert bs.executor_shape(n, cpus, mem_kib) == shape


@pytest.mark.parametrize("cpus, n", [(4, 2), (3, 1), (4, 0)])
def test_executor_shape_refuses_oversubscription(cpus, n):
    with pytest.raises(ValueError):
        bs.executor_shape(n, cpus, GIB_16)


def test_efficiencies():
    # 4x the executors at a quarter of the wall is perfect strong
    # scaling; the quarter takes 20 s alone and at most 25 s next to
    # three others, the whole at 4N 25 s
    assert bs.efficiencies(100.0, 25.0, 20.0, [22.0, 25.0, 24.0, 23.0]) == {
        "strong": 1.0, "weak": 0.8, "ceiling": 0.8, "eff_vs_ceiling": 1.25,
    }
    assert bs.efficiencies(60.0, 20.0, 16.0, [16.0] * 4) == {
        "strong": 0.75, "weak": 0.8, "ceiling": 1.0, "eff_vs_ceiling": 0.75,
    }


def test_replace_section_keeps_one_and_leaves_the_rest():
    text = (SCRIPTS.parent / "BENCH" / "BASELINE.md").read_text()
    head = "## Scaling (this host): zz\n"
    once = bs.replace_section(text, "zz", "\nbody-one\n")
    twice = bs.replace_section(once, "zz", "\nsecond\n")
    assert twice.count(head) == 1 and "body-one" not in twice
    assert twice == bs.replace_section(text, "zz", "\nsecond\n")
    # appended after the last section, which is byte-identical
    assert twice[: twice.index(head)] == text.rstrip("\n") + "\n\n"


def test_replace_section_in_the_middle():
    text = (
        "# T\n\n## A\n\na\n\n## Scaling (this host): dedup\n\nold\n"
        "\n## Scaling (this host): dedup2\n\nx\n\n## B\nb\n"
    )
    got = bs.replace_section(text, "dedup", "\nnew\n")
    assert got == text.replace("\nold\n", "\nnew\n")
    assert bs.replace_section(got, "dedup", "\nold\n") == text


@pytest.mark.parametrize("script", ["bench_salt_skew", "bench_join_scorer"])
def test_callers_still_import(script):
    assert callable(importlib.import_module(script).main)
